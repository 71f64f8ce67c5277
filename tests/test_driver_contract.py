"""Driver-contract invariants that live outside any single operator:
the README's advertised query count must track the registry (ADVICE r9
— the count drifted 227 vs 228 when q82 landed after the README edit),
and no code names the absolute path of one particular checkout.
"""

from __future__ import annotations

import pathlib
import re

from fanstats_producer_spark import registry

REPO = pathlib.Path(__file__).resolve().parent.parent


def test_readme_count_matches():
    """README's "**N of N**" oracle-coverage claim equals the number of
    registered keys, so the doc can never silently drift again."""
    text = (REPO / "README.md").read_text()
    m = re.search(r"\*\*(\d+) of (\d+)\*\*", text)
    assert m, "README.md lost its '**N of N**' oracle-coverage claim"
    n = len(registry.QUERIES)
    assert (int(m.group(1)), int(m.group(2))) == (n, n), (
        f"README claims {m.group(0)} but registry has {n} keys — "
        "update the README count"
    )


def test_no_file_hard_codes_a_checkout_path():
    """Scripts and tests find the package from their own ``__file__``.
    A literal checkout path would make a copy of the repo (an A/B tree,
    a benchmark run from another directory) silently import and measure
    the code at that path instead of its own."""
    here = str(REPO)
    pinned = re.compile(r"""sys\.path\.insert\(\s*0\s*,\s*[rf]?["']/""")
    offenders = []
    for top in ("scripts", "tests", "fanstats_producer_spark"):
        for path in sorted((REPO / top).rglob("*")):
            if not path.is_file() or "__pycache__" in path.parts:
                continue
            try:
                text = path.read_text()
            except UnicodeDecodeError:
                continue
            if here in text or pinned.search(text):
                offenders.append(str(path.relative_to(REPO)))
    assert offenders == [], f"hard-coded checkout path in {offenders}"

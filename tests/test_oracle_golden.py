"""Golden pin of every oracle_sql() string (r6 verdict #6).

The r7 refactor factors the repeated SQL scaffolding in
``__spark_entry__.py`` into parameterized helpers; this test pins that
the refactor is PURE — every one of the 180 oracle twins must stay
byte-identical to the pre-refactor capture in
``golden_oracle_hashes.json``. When a gate's SQL legitimately changes
(new semantics, new gate), regenerate its entry:

    python - <<'EOF'
    import sys, hashlib, json; sys.path.insert(0, "/root/repo")
    import __spark_entry__ as m
    h = {k: hashlib.md5(v.encode()).hexdigest() for k, v in m.oracle_sql().items()}
    overall = hashlib.md5(json.dumps(h, sort_keys=True).encode()).hexdigest()
    json.dump({"n": len(h), "overall": overall, "per_query": h},
              open("tests/golden_oracle_hashes.json", "w"), indent=0, sort_keys=True)
    EOF
"""

import hashlib
import json
import pathlib


def test_oracle_sql_matches_golden_hashes():
    import __spark_entry__ as m

    golden = json.loads(
        (pathlib.Path(__file__).parent / "golden_oracle_hashes.json").read_text()
    )
    got = {
        k: hashlib.md5(v.encode()).hexdigest() for k, v in m.oracle_sql().items()
    }
    pinned = golden["per_query"]
    missing = set(pinned) - set(got)
    added = set(got) - set(pinned)
    assert not missing, f"oracle twins disappeared: {sorted(missing)}"
    changed = [k for k in pinned if got[k] != pinned[k]]
    assert not changed, (
        f"oracle SQL drifted for {sorted(changed)} — if intentional, "
        "regenerate the golden file (see module docstring)"
    )
    # new gates are fine; they just need to be captured eventually
    if not added:
        overall = hashlib.md5(
            json.dumps(got, sort_keys=True).encode()
        ).hexdigest()
        assert overall == golden["overall"]


def test_readme_registry_counts():
    """README's `queries()` / `oracle_sql()` counts are the registry's."""
    import re

    import __spark_entry__ as m

    readme = (pathlib.Path(__file__).parent.parent / "README.md").read_text()
    got = re.search(
        r"`queries\(\)` \((\d+) entries\) and `oracle_sql\(\)` "
        r"\((\d+) DuckDB twins", readme,
    )
    assert got, "README no longer states the registry counts"
    n = len(m.queries())
    assert len(m.oracle_sql()) == n
    assert (int(got[1]), int(got[2])) == (n, n)

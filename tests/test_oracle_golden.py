"""Golden pin of every oracle_sql() string (r6 verdict #6).

The r7 refactor factors the repeated SQL scaffolding in
``__spark_entry__.py`` into parameterized helpers; this test pins that
the refactor is PURE — every one of the 180 oracle twins must stay
byte-identical to the pre-refactor capture in
``golden_oracle_hashes.json``. When a gate's SQL legitimately changes
(new semantics, new gate), regenerate its entry from the repository root:

    python - <<'EOF'
    import hashlib, json
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


def test_entry_imports_the_package_beside_it(tmp_path):
    """``__spark_entry__`` puts its own directory first on ``sys.path``:
    a copy beside another ``ratatool_spark`` imports that one, not
    whichever checkout happens to be on the path already (so tools run
    from a clone test the clone)."""
    import os
    import shutil
    import subprocess
    import sys

    root = pathlib.Path(__file__).resolve().parent.parent
    shutil.copy(root / "__spark_entry__.py", tmp_path / "__spark_entry__.py")
    os.symlink(root / "ratatool_spark", tmp_path / "ratatool_spark")
    (tmp_path / "elsewhere").mkdir()
    probe = (
        "import importlib.util, sys\n"
        "spec = importlib.util.spec_from_file_location("
        "'__spark_entry__', sys.argv[1])\n"
        "spec.loader.exec_module(importlib.util.module_from_spec(spec))\n"
        "import ratatool_spark\n"
        "print(ratatool_spark.__file__)\n"
    )
    r = subprocess.run(
        [sys.executable, "-c", probe, str(tmp_path / "__spark_entry__.py")],
        cwd=tmp_path / "elsewhere",
        env=dict(os.environ, PYTHONPATH=str(root)),
        capture_output=True,
        text=True,
    )
    assert r.returncode == 0, r.stderr[-500:]
    got = pathlib.Path(r.stdout.strip().splitlines()[-1])
    assert got.is_relative_to(tmp_path), got

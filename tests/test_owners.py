"""Guard: each shared decision is spelled in one module only."""

from __future__ import annotations

import re
from pathlib import Path

import dieter___etl___monarchmoney_spark as pkg

PACKAGE = Path(pkg.__file__).parent


def _hits(pattern: str) -> list[str]:
    rx = re.compile(pattern, re.IGNORECASE)
    return [
        f"{path.relative_to(PACKAGE)}:{n}"
        for path in sorted(PACKAGE.rglob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if rx.search(line)
    ]


#: per-element array literals that stay: string elements and per-element
#: casts, one site per module
STRING_OR_CAST_ARRAYS = ["api.py", "functions/text.py", "operators/transactions.py"]


def test_each_decision_has_one_owner():
    """Queries live in operator-family modules, the money decimal is
    named only in functions/money.py, the per-dataset temp tag is
    computed only in sources/parquet.py, and numeric array literals are
    built only by functions/literals.py."""
    rounds = sorted(p.name for p in (PACKAGE / "queries").glob("wave*"))
    assert not rounds, f"round-named query modules: {rounds}"
    money = [
        h for h in _hits(r"decimal\(18,\s*6\)") if not h.startswith("functions/money.py:")
    ]
    assert not money, f"money decimal spelled outside functions/money.py: {money}"
    tags = [
        h for h in _hits(r"md5\(sf_dir") if not h.startswith("sources/parquet.py:")
    ]
    assert not tags, f"sf tag computed outside sources/parquet.py: {tags}"
    arrays = [
        h.split(":")[0]
        for h in _hits(r"F\.lit\(\[|F\.array\(\*\[F\.lit\(")
        if not h.startswith("functions/literals.py:")
    ]
    assert arrays == STRING_OR_CAST_ARRAYS, (
        f"per-element array literals outside functions/literals.py: {arrays}"
    )


def _modules(pattern: str) -> set[str]:
    return {h.split(":")[0] for h in _hits(pattern)}


def test_each_commit_protocol_has_one_owner():
    """The staged swap is spelled only in sources/sinks.py, the versioned
    ``CURRENT`` pointer is read and written only in sources/materialize.py,
    by-value pickling of Python data sources is registered in one module,
    and the state-store count is the stream runner's, not each query's."""
    staging = _modules(r"\._staging")
    assert staging == {"sources/sinks.py"}, f"staged swap spelled in: {staging}"
    pointer = _modules(r'"CURRENT"')
    assert pointer == {"sources/materialize.py"}, f"CURRENT pointer I/O in: {pointer}"
    by_value = _modules(r"register_pickle_by_value")
    assert len(by_value) == 1, f"by-value registration in: {by_value}"
    state = [h for h in _hits(r"state_partitions") if h.startswith("queries/")]
    assert not state, f"state-store count set per query: {state}"


def test_each_storage_decision_has_one_owner():
    """The dynamic partition overwrite is spelled only in the incremental
    loader, which caches nothing; the bucketed layout is written only by
    sources/sinks.py; and a table's path under its scale-factor
    directory is built only in sources/parquet.py."""
    dynamic = _modules(r"partitionOverwriteMode")
    assert dynamic == {"streaming/incremental.py"}, f"dynamic overwrite in: {dynamic}"
    bucketed = _modules(r"\.bucketBy\(")
    assert bucketed == {"sources/sinks.py"}, f"bucketed writes in: {bucketed}"
    paths = _modules(r"\}\.parquet[\"']|\+ *[\"']\.parquet[\"']")
    assert paths == {"sources/parquet.py"}, f"table path built in: {paths}"
    pins = [h for h in _hits(r"\bpins\b") if h.startswith("streaming/incremental.py:")]
    assert not pins, f"the incremental loader imports pins: {pins}"

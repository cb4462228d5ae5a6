"""The quantile_binning_features edge-sample cap (round 13, VERDICT r12
#5): above the input-size gate the edge ranks come from the distributed
two-phase ranking operator instead of a single-partition window — and
the two paths must produce IDENTICAL results, so the gate can never
move an oracle hash."""

from __future__ import annotations

from dieter___etl___monarchmoney_spark.queries import curation
from tests.conftest import SF_ORACLE


def test_edge_gate_paths_identical(spark, monkeypatch):
    q = curation.q_quantile_binning_features
    normal = sorted(tuple(r) for r in q(spark, SF_ORACLE).collect())
    # force the 100 TB path: every input is "over" a 0-byte gate
    monkeypatch.setattr(curation, "_EDGE_GATE_BYTES", 0)
    capped = sorted(tuple(r) for r in q(spark, SF_ORACLE).collect())
    assert capped == normal
    assert len(normal) > 0


def test_edge_rank_closed_form_matches_exists():
    """The bigint closed-form predicate is the exists() lambda it
    replaced: ∃k∈[1,9]: rn = (k·n_s + 9) div 10 ⟺
    max(1, ceil((10·rn−9)/n_s)) ≤ min(9, floor(10·rn/n_s))."""
    for n_s in range(1, 801):
        for rn in range(1, n_s + 1):
            want = any(rn == (k * n_s + 9) // 10 for k in range(1, 10))
            lo = max(1, (10 * rn - 9 + n_s - 1) // n_s)
            hi = min(9, (10 * rn) // n_s)
            assert (lo <= hi) == want, (n_s, rn)


def test_input_bytes_probe(tmp_path):
    f = tmp_path / "t.parquet"
    f.write_bytes(b"x" * 123)
    assert curation._input_bytes(str(tmp_path), "t") == 123
    d = tmp_path / "d.parquet"
    d.mkdir()
    (d / "part-0.parquet").write_bytes(b"x" * 10)
    (d / "part-1.parquet").write_bytes(b"y" * 5)
    assert curation._input_bytes(str(tmp_path), "d") == 15
    assert curation._input_bytes(str(tmp_path), "missing") == 0

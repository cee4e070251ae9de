"""FrequentDirections kernel + distributed aggregation tests.

Mirrors the reference test strategy (SURVEY §5): closed-form
increasing-diagonal fixtures (FrequentDirectionsTest.java:99-244), the
merged-rows formula ((2*7) % 5) + 5 - 1 (:170), compensative diagonal
expectations vs getSvAdjustment (:181-244), serialize/heapify round-trips
with corruption injection (:277-377), and the cross-algorithm oracle of
MatrixOpsTest.java:35-65. The distributed layer is checked against the
analytic FD sandwich: raw <= true <= compensative singular values, and the
KDD'13 spectral-error bound."""

import numpy as np
import pandas as pd
import pytest

from dedup.fd import (
    SVD_FULL,
    SVD_SISVD,
    SVD_SYM,
    FrequentDirections,
    fd_preamble_to_string,
    fd_project,
    fd_singular_values,
    fd_sketch_by_group,
)
from dedup.sketches import SketchCorruptionError


class TestConstruction:
    def test_valid(self):
        fd = FrequentDirections(4, 10)
        assert fd.l == 8 and fd.d == 10 and fd.is_empty

    @pytest.mark.parametrize("k,d", [(0, 10), (-1, 10), (4, 0), (4, 7)])
    def test_invalid(self, k, d):
        with pytest.raises(ValueError):
            FrequentDirections(k, d)

    def test_bad_algo(self):
        with pytest.raises(ValueError):
            FrequentDirections(4, 10, algo="MAGIC")


def _diag_rows(n_rows, d, values=None):
    """Increasing-diagonal fixture: row i = values[i] * e_i
    (the canonical generateIncreasingEye, MatrixOpsTest.java:119-125)."""
    m = np.zeros((n_rows, d))
    vals = values if values is not None else np.arange(n_rows, dtype=float)
    m[np.arange(n_rows), np.arange(n_rows)] = vals
    return m


class TestUpdate:
    @pytest.mark.parametrize("algo", [SVD_SYM, SVD_FULL, SVD_SISVD])
    def test_update_and_compaction_trigger(self, algo):
        """2k updates fill the buffer without compaction; the next update
        triggers reduceRank first (FrequentDirectionsTest.java:98-120)."""
        k, d = 4, 16
        fd = FrequentDirections(k, d, algo=algo)
        fd.update(_diag_rows(2 * k, d))
        fd.update(None)  # no-op
        assert fd.num_rows == 2 * k
        assert fd.n == 2 * k
        extra = np.zeros((1, d))
        extra[0, 2 * k] = 2.0 * k
        fd.update(extra)
        assert fd.num_rows == k
        assert fd.n == 2 * k + 1

    def test_batch_equals_row_at_a_time(self):
        """Batch update is bit-identical to streaming rows one at a time."""
        k, d = 3, 8
        rng = np.random.default_rng(7)
        rows = rng.normal(size=(25, d))
        a = FrequentDirections(k, d)
        b = FrequentDirections(k, d)
        a.update(rows)
        for r in rows:
            b.update(r[None, :])
        assert np.allclose(a.B, b.B)
        assert a.n == b.n and a.num_rows == b.num_rows
        assert a.sv_adjustment == pytest.approx(b.sv_adjustment)

    def test_wrong_dims_raise(self):
        fd = FrequentDirections(4, 16)
        with pytest.raises(ValueError):
            fd.update(np.zeros((1, 13)))

    def test_reset_keeps_allocation(self):
        fd = FrequentDirections(4, 16)
        fd.update(_diag_rows(5, 16))
        buf = fd.B
        fd.reset()
        assert fd.is_empty and fd.num_rows == 0 and fd.sv_adjustment == 0.0
        assert fd.B is buf


class TestMerge:
    def test_merge_row_count_formula(self):
        """Merging two 7-row k=5 sketches yields ((2*7) % 5) + 5 - 1 = 8 rows
        and n = 14 (FrequentDirectionsTest.java:139-179, formula :170)."""
        k, d, initial = 5, 12, 7
        fd1 = FrequentDirections(k, d)
        fd2 = FrequentDirections(k, d)
        fd1.update(_diag_rows(initial, d))
        fd2.update(_diag_rows(initial, d, np.arange(initial) - 2.0 * k))
        fd1.merge(None)  # no-ops (FrequentDirections.java:212-214)
        fd1.merge(FrequentDirections(k, d))
        assert fd1.num_rows == initial and fd1.n == initial
        fd1.merge(fd2)
        assert fd1.num_rows == ((2 * initial) % k) + k - 1
        assert fd1.n == 2 * initial
        assert fd1.get_result(False).shape == (2 * k, d)

    def test_merge_incompatible(self):
        """Same d required, incoming k may not be smaller
        (FrequentDirections.java:216-219)."""
        fd = FrequentDirections(5, 12)
        other_d = FrequentDirections(5, 16)
        other_d.update(_diag_rows(3, 16))
        with pytest.raises(ValueError):
            fd.merge(other_d)
        small_k = FrequentDirections(4, 12)
        small_k.update(_diag_rows(3, 12))
        with pytest.raises(ValueError):
            fd.merge(small_k)
        # larger incoming k is fine
        big_k = FrequentDirections(6, 12)
        big_k.update(_diag_rows(3, 12))
        fd.merge(big_k)
        assert fd.n == 3

    def test_merge_accumulates_adjustment(self):
        k, d = 3, 8
        rng = np.random.default_rng(3)
        a = FrequentDirections(k, d)
        b = FrequentDirections(k, d)
        a.update(rng.normal(size=(40, d)))
        b.update(rng.normal(size=(40, d)))
        adj_a, adj_b = a.sv_adjustment, b.sv_adjustment
        assert adj_a > 0 and adj_b > 0
        a.merge(b)
        assert a.sv_adjustment >= adj_a + adj_b  # replay may shrink further


class TestCompensativeQueries:
    @pytest.mark.parametrize("algo", [SVD_SYM, SVD_FULL])
    def test_compensative_diagonals(self, algo):
        """Port of runCompensativeResultTest
        (FrequentDirectionsTest.java:199-244): diagonal input 1..k+1; after
        forceReduceRank the raw result/SVs equal sqrt((i+1)^2 - adj) and the
        compensative ones recover i+1 exactly."""
        k, d = 4, 10
        fd = FrequentDirections(k, d, algo=algo)
        fd.update(_diag_rows(k + 1, d, np.arange(1, k + 2, dtype=float)))

        m = fd.get_result()
        for i in range(k + 1):
            assert m[i, i] == pytest.approx(i + 1.0, abs=1e-6)

        fd.force_reduce_rank()
        m = fd.get_result()
        p = fd.get_projection_matrix()
        sv = fd.get_singular_values(False)
        adj = fd.sv_adjustment
        assert adj > 0
        for i in range(k, 1, -1):
            expected = np.sqrt((i + 1.0) ** 2 - adj)
            assert abs(m[k - i, i]) == pytest.approx(expected, abs=1e-6)
            assert sv[k - i] == pytest.approx(expected, abs=1e-10)
            assert abs(p[k - i, i]) == pytest.approx(1.0, abs=1e-6)
        assert m[k, 1] == pytest.approx(0.0, abs=0.0)
        assert p[k, 1] == pytest.approx(0.0, abs=1e-9)

        m = fd.get_result(True)
        sv = fd.get_singular_values(True)
        for i in range(k, 1, -1):
            assert abs(m[k - i, i]) == pytest.approx(i + 1.0, abs=1e-6)
            assert sv[k - i] == pytest.approx(i + 1.0, abs=1e-10)
        assert m[k, 1] == pytest.approx(0.0, abs=1e-9)

    def test_empty_result_is_none(self):
        assert FrequentDirections(4, 10).get_result() is None
        assert FrequentDirections(4, 10).get_result(True) is None


class TestCrossAlgorithmOracle:
    def test_algos_agree(self):
        """FULL vs SYM vs SISVD agree on singular values to 1e-6
        (MatrixOpsTest.java:35-65; SISVD run with extra iterations for
        convergence like the reference's 50k-iteration variant :43)."""
        k, d = 4, 12
        rows = _diag_rows(2 * k, d, np.arange(1, 2 * k + 1, dtype=float))
        svs = {}
        for algo in (SVD_FULL, SVD_SYM, SVD_SISVD):
            fd = FrequentDirections(k, d, algo=algo)
            fd._n_sisvd_iter = 200  # convergence headroom
            fd.update(rows)
            fd.force_reduce_rank()
            svs[algo] = fd.get_singular_values(True)
        assert np.allclose(svs[SVD_FULL], svs[SVD_SYM], atol=1e-6)
        assert np.allclose(svs[SVD_FULL], svs[SVD_SISVD], atol=1e-5)


class TestErrorBound:
    def test_kdd13_spectral_bound(self):
        """||A^T.A - B^T.B||_2 <= ||A||_F^2 / k (Liberty KDD'13, cited at
        FrequentDirections.java:52-55), checked on random Gaussian streams."""
        rng = np.random.default_rng(11)
        k, d, n = 8, 32, 400
        a = rng.normal(size=(n, d))
        fd = FrequentDirections(k, d)
        fd.update(a)
        b = fd.get_result(False)
        err = np.linalg.norm(a.T @ a - b.T @ b, ord=2)
        assert err <= np.linalg.norm(a, "fro") ** 2 / k * 1.0000001

    def test_sandwich_raw_true_compensative(self):
        """Shrinkage only subtracts mass: sigma_raw <= sigma_true, and the
        compensative value adds back at least what was subtracted:
        sigma_true <= sigma_comp (per-direction, Weyl)."""
        rng = np.random.default_rng(13)
        k, d, n = 6, 24, 300
        a = rng.normal(size=(n, d)) + 3.0 * np.outer(
            np.ones(n), rng.normal(size=d)
        )
        true_sv = np.linalg.svd(a, compute_uv=False)
        fd = FrequentDirections(k, d)
        fd.update(a)
        raw = fd.get_singular_values(False)
        comp = fd.get_singular_values(True)
        for i in range(k - 1):
            assert raw[i] <= true_sv[i] + 1e-6
            assert true_sv[i] <= comp[i] + 1e-6


class TestSerialization:
    def test_empty_roundtrip_header_only(self):
        fd = FrequentDirections(4, 10)
        buf = fd.to_bytes()
        assert len(buf) == fd.compact_size_bytes() == 36  # header-only image
        back = FrequentDirections.from_bytes(buf)
        assert back.is_empty and back.k == 4 and back.d == 10

    @pytest.mark.parametrize("n_rows", [3, 8, 17])
    def test_roundtrip_states(self, n_rows):
        """Uncompacted, exactly-full and post-compaction states round-trip
        (FrequentDirectionsTest.java:277-323)."""
        k, d = 4, 10
        fd = FrequentDirections(k, d)
        fd.update(np.random.default_rng(n_rows).normal(size=(n_rows, d)))
        buf = fd.to_bytes()
        assert len(buf) == fd.compact_size_bytes() <= fd.size_bytes()
        back = FrequentDirections.from_bytes(buf)
        assert back.n == fd.n
        assert back.num_rows == fd.num_rows
        assert back.sv_adjustment == pytest.approx(fd.sv_adjustment)
        assert np.allclose(back.B, fd.B)

    def test_corruption_rejected(self):
        """Ser-ver, family and truncation rejections
        (FrequentDirectionsTest.java:325-377)."""
        fd = FrequentDirections(4, 10)
        fd.update(_diag_rows(5, 10))
        buf = bytearray(fd.to_bytes())
        bad_ver = buf.copy()
        bad_ver[4] = 99
        with pytest.raises(SketchCorruptionError):
            FrequentDirections.from_bytes(bytes(bad_ver))
        bad_family = buf.copy()
        bad_family[5] = 77
        with pytest.raises(SketchCorruptionError):
            FrequentDirections.from_bytes(bytes(bad_family))
        bad_magic = buf.copy()
        bad_magic[0] ^= 0xFF
        with pytest.raises(SketchCorruptionError):
            FrequentDirections.from_bytes(bytes(bad_magic))
        with pytest.raises(SketchCorruptionError):
            FrequentDirections.from_bytes(bytes(buf[: len(buf) - 8]))
        with pytest.raises(SketchCorruptionError):
            FrequentDirections.from_bytes(b"\x01\x02")

    def test_describe_and_preamble(self):
        fd = FrequentDirections(4, 10)
        fd.update(_diag_rows(6, 10, np.arange(1, 7, dtype=float)))
        s = fd.describe(include_sv=True)
        assert "k            : 4" in s and "singular values" in s
        p = fd_preamble_to_string(fd.to_bytes())
        assert "family  : 129" in p and "rowsUsed: 6" in p
        assert "corrupt" in fd_preamble_to_string(b"xx")


class TestDistributed:
    @pytest.fixture(scope="class")
    def emb(self, spark):
        rng = np.random.default_rng(21)
        d = 16
        base = rng.normal(size=(4, d)) * 5.0  # strong directions per label
        rows = []
        for i in range(240):
            lab = i % 4
            v = base[lab] + rng.normal(size=d) * 0.3
            rows.append((i, [float(x) for x in v], lab))
        pdf = pd.DataFrame(rows, columns=["vec_id", "embedding", "label"])
        return spark.createDataFrame(pdf).repartition(8), pdf

    def test_grouped_sketch_counts_and_determinism(self, spark, emb):
        df, pdf = emb
        out = fd_sketch_by_group(df, "label", "embedding", k=4)
        rows = {r["group_key"]: r for r in out.collect()}
        assert set(rows) == {"0", "1", "2", "3"}
        for g, r in rows.items():
            assert r["n"] == 60
            assert 0 < r["rows_used"] <= 8
            assert r["compact_bytes"] == len(r["payload"])
        again = {r["group_key"]: r for r in out.collect()}
        for g in rows:
            assert bytes(rows[g]["payload"]) == bytes(again[g]["payload"]), (
                "merged sketch must be deterministic for a fixed partitioning"
            )

    def test_distributed_sv_sandwich_vs_exact(self, spark, emb):
        """Distributed merged sketch obeys the same raw <= true <=
        compensative sandwich as the single-node kernel — the mergeability
        guarantee (package-info.java:23-27) surviving Spark's partial+final
        placement."""
        from pyspark.sql import functions as F

        df, pdf = emb
        k = 4
        sv_rows = fd_singular_values(df, F.lit("all"), "embedding", k=k).collect()
        assert len(sv_rows) == k
        a = np.array(pdf["embedding"].tolist())
        true_sv = np.linalg.svd(a, compute_uv=False)
        by_rank = {r["rank"]: r for r in sv_rows}
        for i in range(k - 1):
            assert by_rank[i]["sv"] <= true_sv[i] + 1e-6
            assert true_sv[i] <= by_rank[i]["sv_compensative"] + 1e-6
        assert by_rank[0]["n"] == len(pdf)

    def test_projection_shapes(self, spark, emb):
        df, pdf = emb
        k = 4
        sk = fd_sketch_by_group(df, "label", "embedding", k=k).collect()[0]
        from dedup.fd import FrequentDirections as FD

        fd = FD.from_bytes(bytes(sk["payload"]))
        proj = fd.get_projection_matrix()[:k]
        out = fd_project(df, "vec_id", "embedding", proj)
        rows = out.collect()
        assert len(rows) == 240
        assert all(len(r["proj"]) == k for r in rows)

    def test_tree_merge_equals_flat_merge_within_guarantee(self, spark, emb):
        """Fan-in 2 forces a real multi-bucket tree; the tree-merged sketch
        must carry the same counters and obey the same sv sandwich as the
        flat merge (merge order changes the buffer, never the guarantee —
        SURVEY §2.3-1), and stay deterministic run to run."""
        df, pdf = emb
        k = 4
        tree = fd_sketch_by_group(df, "label", "embedding", k=k, merge_fanin=2)
        flat = fd_sketch_by_group(df, "label", "embedding", k=k, merge_fanin=0)
        t = {r["group_key"]: r for r in tree.collect()}
        f = {r["group_key"]: r for r in flat.collect()}
        assert set(t) == set(f)
        for g in t:
            assert t[g]["n"] == f[g]["n"]
        t2 = {r["group_key"]: r for r in tree.collect()}
        for g in t:
            assert bytes(t[g]["payload"]) == bytes(t2[g]["payload"])
        # per-label true spectrum sandwiches the tree-merged estimates
        from dedup.fd import FrequentDirections as FD

        for g, r in t.items():
            sk = FD.from_bytes(bytes(r["payload"]))
            raw = sk.get_singular_values(False)
            comp = sk.get_singular_values(True)
            a = np.array(
                [e for e, lab in zip(pdf["embedding"], pdf["label"])
                 if str(lab) == g]
            )
            true_sv = np.linalg.svd(a, compute_uv=False)
            for i in range(k - 1):
                assert raw[i] <= true_sv[i] + 1e-6
                assert true_sv[i] <= comp[i] + 1e-6

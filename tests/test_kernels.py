"""Kernel golden tests — the analog of the reference's closed-form
increasing-eye tests (MatrixOpsTest.java:119-125): inputs whose correct answer
is known by construction, no stored goldens needed."""

import numpy as np
import pandas as pd
import pytest

from dedup.config import DedupConfig
from dedup.shingle import batch_shingles, normalize
from dedup.sketches import (
    FLAG_EMPTY,
    MinHashSketch,
    SignatureBlock,
    SketchCorruptionError,
    band_hashes,
    combine_windows,
    estimate_jaccard,
    hamming64,
    hash_strings,
    minhash_from_segments,
    perm_seeds,
    simhash_from_segments,
    splitmix64,
)


def _sig_for(texts, cfg: DedupConfig):
    sh, starts, counts, nd = batch_shingles(pd.Series(texts), cfg.shingle_k)
    seeds = perm_seeds(cfg.num_perm, cfg.seed)
    return minhash_from_segments(sh, starts, seeds), (sh, starts, counts, nd)


class TestHashing:
    def test_splitmix_deterministic_and_uint64(self):
        x = np.arange(10, dtype=np.uint64)
        a, b = splitmix64(x), splitmix64(x)
        assert a.dtype == np.uint64
        assert np.array_equal(a, b)
        assert len(np.unique(a)) == 10

    def test_hash_strings_deterministic(self):
        v = np.array(["foo", "bar", "foo"], dtype=object)
        h = hash_strings(v)
        assert h[0] == h[2] and h[0] != h[1]
        assert np.array_equal(h, hash_strings(v))

    def test_combine_windows_matches_naive(self):
        t = splitmix64(np.arange(12, dtype=np.uint64))
        k = 5
        got = combine_windows(t, k)
        assert len(got) == 8
        # order sensitivity: reversed window differs
        t2 = t.copy()
        t2[0], t2[4] = t2[4], t2[0]
        assert combine_windows(t2, k)[0] != got[0]


class TestShingling:
    def test_known_doc_counts(self):
        texts = ["a b c d e f g", "a b c d e", "a b", ""]
        sh, starts, counts, nd = batch_shingles(pd.Series(texts), 5)
        assert list(counts) == [3, 1, 1, 1]  # 7-5+1, 5-5+1, fallback, fallback
        assert list(starts) == [0, 3, 4, 5]
        # doc0's second window == doc over same tokens
        sh2, *_ = batch_shingles(pd.Series(["b c d e f"]), 5)
        assert sh[1] == sh2[0]

    def test_boundary_masking(self):
        # windows must never span documents: shingles of ["a b c","d e f"]
        # with k=2 are {ab,bc,de,ef}, NOT cd
        sh, starts, counts, _ = batch_shingles(pd.Series(["a b c", "d e f"]), 2)
        cross, *_ = batch_shingles(pd.Series(["c d"]), 2)
        assert cross[0] not in set(sh.tolist())

    def test_normalization_case_and_ws(self):
        a, *_ = batch_shingles(pd.Series(["Foo  Bar\tBaz qux quux"]), 5)
        b, *_ = batch_shingles(pd.Series(["foo bar baz qux quux"]), 5)
        assert np.array_equal(a, b)

    def test_distinct_counts(self):
        sh, st, ct, nd = batch_shingles(pd.Series(["a a a a a a a a"]), 5)
        assert ct[0] == 4 and nd[0] == 1  # identical windows collapse

    def test_empty_batch(self):
        sh, st, ct, nd = batch_shingles(pd.Series([], dtype=object), 5)
        assert len(sh) == 0 and len(st) == 0


class TestMinHash:
    CFG = DedupConfig()

    def test_identical_docs_identical_sigs(self):
        sig, _ = _sig_for(["x y z " * 50, "x y z " * 50], self.CFG)
        assert np.array_equal(sig[0], sig[1])

    def test_jaccard_estimate_tracks_truth(self):
        # two docs sharing exactly half their tokens-stream → known shingle overlap
        base = [f"tok{i}" for i in range(200)]
        a = " ".join(base)
        b = " ".join(base[:100] + [f"alt{i}" for i in range(100)])
        sig, (sh, starts, counts, nd) = _sig_for([a, b], self.CFG)
        # exact jaccard over shingle sets
        sa = set(sh[starts[0] : starts[0] + counts[0]].tolist())
        sb = set(sh[starts[1] : starts[1] + counts[1]].tolist())
        true_j = len(sa & sb) / len(sa | sb)
        est = estimate_jaccard(sig[0:1], sig[1:2])[0]
        assert abs(est - true_j) < 0.15  # 128 perms → σ ≈ 0.044

    def test_disjoint_docs_low_estimate(self):
        a = " ".join(f"a{i}" for i in range(100))
        b = " ".join(f"b{i}" for i in range(100))
        sig, _ = _sig_for([a, b], self.CFG)
        assert estimate_jaccard(sig[0:1], sig[1:2])[0] < 0.1

    def test_multiplicity_invariance(self):
        # MinHash is over the shingle SET: repeating content 2x keeps sig
        doc = " ".join(f"t{i}" for i in range(50))
        sig, _ = _sig_for([doc, doc + " " + doc], self.CFG)
        # not exactly equal (junction windows) but nearly
        # true jaccard = 46/50 = 0.92; 128 perms → σ ≈ 0.024
        assert estimate_jaccard(sig[0:1], sig[1:2])[0] > 0.82


class TestSimHash:
    def test_identical_and_mutated(self):
        base = " ".join(f"w{i}" for i in range(300))
        mut = base.replace("w150", "XX")
        sh, st, ct, _ = batch_shingles(pd.Series([base, base, mut]), 5)
        f = simhash_from_segments(sh, st, ct)
        assert f[0] == f[1]
        d = hamming64(f[0:1], f[2:3])[0]
        assert 0 < d <= 16

    def test_different_docs_far(self):
        a = " ".join(f"a{i}" for i in range(300))
        b = " ".join(f"b{i}" for i in range(300))
        sh, st, ct, _ = batch_shingles(pd.Series([a, b]), 5)
        f = simhash_from_segments(sh, st, ct)
        assert hamming64(f[0:1], f[1:2])[0] > 16


class TestBandHashes:
    def test_band_structure(self):
        cfg = DedupConfig()
        rng = np.random.default_rng(7)
        sig = rng.integers(0, 2**63, size=(2, 128), dtype=np.uint64)
        # make band 3 identical across docs, others different
        sig[1] = rng.integers(0, 2**63, size=128, dtype=np.uint64)
        sig[1, 3 * 8 : 4 * 8] = sig[0, 3 * 8 : 4 * 8]
        bh = band_hashes(sig, cfg.bands, cfg.rows_per_band, cfg.seed)
        assert bh.shape == (2, 16)
        assert bh[0, 3] == bh[1, 3]
        others = [b for b in range(16) if b != 3]
        assert not np.any(bh[0, others] == bh[1, others])

    def test_same_subsig_different_band_no_collision(self):
        cfg = DedupConfig()
        sig = np.zeros((1, 128), dtype=np.uint64)  # all bands identical content
        bh = band_hashes(sig, cfg.bands, cfg.rows_per_band, cfg.seed)
        assert len(np.unique(bh[0])) == 16  # band seed breaks symmetry


class TestMinHashSketch:
    def _sig(self, n, seed=1):
        rng = np.random.default_rng(seed)
        return rng.integers(0, 2**63, size=(n, 128), dtype=np.uint64)

    def test_update_merge_associative(self):
        s = self._sig(30)
        a, b, c = MinHashSketch(), MinHashSketch(), MinHashSketch()
        a.update(s[:10]); b.update(s[10:20]); c.update(s[20:])
        m1 = MinHashSketch(); m1.merge(a); m1.merge(b); m1.merge(c)
        m2 = MinHashSketch(); m2.merge(c); m2.merge(a); m2.merge(b)
        assert np.array_equal(m1.mins, m2.mins) and m1.n == m2.n == 30
        whole = MinHashSketch(); whole.update(s)
        assert np.array_equal(m1.mins, whole.mins)

    def test_empty_merge_noop_and_null_update(self):
        a = MinHashSketch(); a.update(self._sig(5))
        before = a.mins.copy()
        a.merge(MinHashSketch())          # empty merge no-op
        a.update(None); a.update(np.empty((0, 128), dtype=np.uint64))
        assert np.array_equal(a.mins, before) and a.n == 5

    def test_incompatible_merge_raises(self):
        a, b = MinHashSketch(num_perm=128), MinHashSketch(num_perm=64)
        b.update(self._sig(2)[:, :64])
        with pytest.raises(ValueError):
            a.merge(b)

    def test_serialize_roundtrip_and_empty_header_only(self):
        e = MinHashSketch()
        buf = e.to_bytes()
        assert len(buf) == 28  # header-only empty image (64-bit seed)
        assert MinHashSketch.from_bytes(buf).is_empty
        a = MinHashSketch(); a.update(self._sig(7))
        back = MinHashSketch.from_bytes(a.to_bytes())
        assert np.array_equal(back.mins, a.mins) and back.n == 7

    def test_corruption_rejection(self):
        a = MinHashSketch(); a.update(self._sig(3))
        buf = bytearray(a.to_bytes())
        bad_ver = buf.copy(); bad_ver[4] = 99
        with pytest.raises(SketchCorruptionError):
            MinHashSketch.from_bytes(bytes(bad_ver))
        bad_fam = buf.copy(); bad_fam[5] = 77
        with pytest.raises(SketchCorruptionError):
            MinHashSketch.from_bytes(bytes(bad_fam))
        with pytest.raises(SketchCorruptionError):
            MinHashSketch.from_bytes(bytes(buf[: len(buf) - 8]))
        bad_magic = buf.copy(); bad_magic[0] ^= 0xFF
        with pytest.raises(SketchCorruptionError):
            MinHashSketch.from_bytes(bytes(bad_magic))

    def test_ser_ver_1_image_rejected_by_name(self):
        """Only SER_VER images decode. A ser-ver-1 image of every family is
        rejected as 'unsupported ser-ver 1' whatever its length: one in the
        current layout, a pre-widening one (24-byte seed32 header) and a
        pre-widening empty image shorter than the current header."""
        from dedup.fd import FrequentDirections
        from dedup.sketches import SignatureBlock

        a = MinHashSketch(); a.update(self._sig(7))
        blk = SignatureBlock(num_perm=8, seed=42)
        blk.update(*self._block_rows())
        fd = FrequentDirections(4, 10)
        fd.update(np.eye(10)[:5])
        images = [
            (MinHashSketch, a), (MinHashSketch, MinHashSketch()),
            (SignatureBlock, blk), (SignatureBlock, SignatureBlock(8, 42)),
            (FrequentDirections, fd), (FrequentDirections,
                                       FrequentDirections(4, 10)),
        ]
        for cls, sketch in images:
            img = bytearray(sketch.to_bytes())
            assert img[4] == 2  # ver byte offset in the header
            img[4] = 1
            # the narrower pre-widening header: 4 of the 8 seed bytes gone
            for buf in (bytes(img), bytes(img[:12]) + bytes(img[16:]),
                        bytes(img[:5])):
                with pytest.raises(SketchCorruptionError,
                                   match="unsupported ser-ver 1"):
                    cls.from_bytes(buf)

    @staticmethod
    def _block_rows():
        rng = np.random.default_rng(7)
        keys = ["k0", "k1"]
        shas = ["%064x" % rng.integers(0, 2**63) for _ in keys]
        sigs = rng.integers(0, 2**63, size=(2, 8), dtype=np.uint64)
        sims = rng.integers(0, 2**63, size=2, dtype=np.uint64)
        counts = np.array([3, 4], dtype=np.int32)
        return keys, shas, sigs, sims, counts


class TestSignatureBlock:
    @staticmethod
    def _rows(keys, seed):
        rng = np.random.default_rng(seed)
        n = len(keys)
        return (
            keys,
            ["%064x" % rng.integers(0, 2**63) for _ in keys],
            rng.integers(0, 2**63, size=(n, 128), dtype=np.uint64),
            rng.integers(0, 2**63, size=n, dtype=np.uint64),
            rng.integers(1, 500, size=n).astype(np.int32),
        )

    def test_roundtrip_and_merge_dedupe(self):
        a = SignatureBlock(); a.update(*self._rows(["k1", "k2"], 3))
        b = SignatureBlock(); b.update(*self._rows(["k2", "k3"], 4))
        a.merge(b)
        assert a.keys == ["k1", "k2", "k3"]  # canonical sort, first wins
        back = SignatureBlock.from_bytes(a.to_bytes())
        assert back.keys == a.keys and back.shas == a.shas
        assert np.array_equal(back.sigs, a.sigs)
        assert np.array_equal(back.sims, a.sims)
        assert np.array_equal(back.n_shingles, a.n_shingles)
        assert SignatureBlock.from_bytes(SignatureBlock().to_bytes()).is_empty

    def test_merge_order_insensitive(self):
        p1, p2, p3 = (self._rows([k], i) for i, k in enumerate(["a", "b", "c"]))
        m1, m2 = SignatureBlock(), SignatureBlock()
        for rows in (p1, p2, p3):
            blk = SignatureBlock(); blk.update(*rows); m1.merge(blk)
        for rows in (p3, p1, p2):
            blk = SignatureBlock(); blk.update(*rows); m2.merge(blk)
        assert m1.to_bytes() == m2.to_bytes()

    def test_corruption(self):
        a = SignatureBlock(); a.update(*self._rows(["x"], 5))
        buf = a.to_bytes()
        with pytest.raises(SketchCorruptionError):
            SignatureBlock.from_bytes(buf[:-4])
        bad = bytearray(buf); bad[5] = 1
        with pytest.raises(SketchCorruptionError):
            SignatureBlock.from_bytes(bytes(bad))


class TestConfig:
    def test_defaults_valid(self):
        c = DedupConfig()
        assert c.bands * c.rows_per_band == c.num_perm
        assert len(c.config_hash()) == 16

    def test_validation(self):
        with pytest.raises(ValueError):
            DedupConfig(bands=10)  # 10*8 != 128
        with pytest.raises(ValueError):
            DedupConfig(shingle_k=0)
        with pytest.raises(ValueError):
            DedupConfig(jaccard_threshold=0.0)

    def test_hash_changes_with_config(self):
        assert DedupConfig().config_hash() != DedupConfig(seed=7).config_hash()


class TestWideSeeds:
    """Seeds are identified mod 2^64: values >= 2^31 and negatives must
    round-trip serialization and pass merge/decode schema checks
    (ADVICE r1 — the old header masked to 31 bits)."""

    @pytest.mark.parametrize("seed", [2**31, 2**63 - 1, -1, -(2**40)])
    def test_minhash_seed_roundtrip(self, seed):
        a = MinHashSketch(num_perm=8, seed=seed)
        a.update(np.random.default_rng(1).integers(
            0, 2**63, size=(3, 8), dtype=np.uint64))
        back = MinHashSketch.from_bytes(a.to_bytes())
        assert back.seed == a.seed
        fresh = MinHashSketch(num_perm=8, seed=seed)
        fresh.merge(back)  # must not raise
        assert fresh.n == 3

    @pytest.mark.parametrize("seed", [2**31 + 7, -12345])
    def test_sigblock_seed_roundtrip(self, seed):
        blk = SignatureBlock(num_perm=8, seed=seed)
        blk.update(
            ["k1"], ["ab" * 32],
            np.ones((1, 8), dtype=np.uint64),
            np.ones(1, dtype=np.uint64),
            np.ones(1, dtype=np.int32),
        )
        back = SignatureBlock.from_bytes(blk.to_bytes())
        assert back.seed == blk.seed and back.keys == ["k1"]
        merged = SignatureBlock(num_perm=8, seed=seed)
        merged.merge(back)  # must not raise
        assert merged.n == 1


class TestSizeAccountingAndDescribe:
    """getSizeBytes / getCompactSizeBytes / toString surface
    (Matrix.java:164-189, FrequentDirections.java:437-507 analogs)."""

    def test_minhash_sizes(self):
        a = MinHashSketch(num_perm=16)
        assert a.compact_size_bytes() == len(a.to_bytes())
        a.update(np.ones((2, 16), dtype=np.uint64))
        assert a.compact_size_bytes() == len(a.to_bytes()) == a.size_bytes()
        assert "num_perm     : 16" in a.describe()

    def test_sigblock_sizes(self):
        blk = SignatureBlock(num_perm=8)
        assert blk.compact_size_bytes() == len(blk.to_bytes())
        blk.update(
            ["key-one", "k2"], ["ab" * 32, "cd" * 32],
            np.ones((2, 8), dtype=np.uint64),
            np.ones(2, dtype=np.uint64), np.ones(2, dtype=np.int32),
        )
        assert blk.compact_size_bytes() == len(blk.to_bytes())
        assert "rows         : 2" in blk.describe()

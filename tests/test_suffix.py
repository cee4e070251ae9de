"""Suffix-array substring pass: closed-form kernels + planted-dup recall."""

import numpy as np
import pandas as pd
import pytest

from dedup.config import DedupConfig
from dedup.fixtures import make_corpus
from dedup.pipeline import key_docs
from dedup.suffix import (
    kasai_lcp,
    longest_common_block,
    substring_pairs,
    suffix_array,
)


def naive_lcs(a: bytes, b: bytes) -> int:
    best = 0
    for i in range(len(a)):
        for j in range(len(b)):
            k = 0
            while i + k < len(a) and j + k < len(b) and a[i + k] == b[j + k]:
                k += 1
            best = max(best, k)
    return best


class TestSuffixArrayKernels:
    def test_suffix_array_banana(self):
        s = np.frombuffer(b"banana", dtype=np.uint8).astype(np.int64)
        sa = suffix_array(s)
        # suffixes sorted: a, ana, anana, banana, na, nana -> [5,3,1,0,4,2]
        assert list(sa) == [5, 3, 1, 0, 4, 2]
        lcp = kasai_lcp(s, sa)
        assert list(lcp) == [1, 3, 0, 0, 2]

    def test_sa_matches_python_sort(self):
        rng = np.random.default_rng(5)
        for _ in range(5):
            s = rng.integers(97, 101, size=200).astype(np.int64)
            sa = suffix_array(s)
            txt = bytes(s.astype(np.uint8))
            want = sorted(range(len(txt)), key=lambda i: txt[i:])
            assert list(sa) == want

    def test_lcs_matches_naive(self):
        rng = np.random.default_rng(9)
        for _ in range(10):
            a = bytes(rng.integers(97, 100, size=60).astype(np.uint8))
            b = bytes(rng.integers(97, 100, size=60).astype(np.uint8))
            assert longest_common_block(a, b) == naive_lcs(a, b)

    def test_lcs_planted_block(self):
        rng = np.random.default_rng(2)
        block = bytes(rng.integers(32, 120, size=600).astype(np.uint8))
        a = b"xxxx" + block + b"yyyy"
        b = b"zzzzzz" + block + b"wwww"
        assert longest_common_block(a, b) >= 600

    def test_lcs_empty(self):
        assert longest_common_block(b"", b"abc") == 0
        assert longest_common_block(b"abc", b"") == 0


class TestWindowTiles:
    def test_tile_always_covers_anchor_neighbourhood(self):
        """The chunk-aligned 3*cap tile cut by _win_expr must contain the
        full +-cap neighbourhood of every in-doc offset — the guarantee the
        offset-anchored verification correctness rests on."""
        rng = np.random.default_rng(41)
        cap = 1 << 20
        for _ in range(20_000):
            doc_len = int(rng.integers(1, 20 << 20))
            off = int(rng.integers(0, doc_len))
            old_lo, old_hi = max(off - cap, 0), min(off + cap, doc_len)
            q = max(off // cap - 1, 0)
            new_lo, new_hi = q * cap, min(q * cap + 3 * cap, doc_len)
            assert new_lo <= old_lo and new_hi >= old_hi, (doc_len, off)


class TestSubstringPass:
    def test_finds_planted_substring_dups(self, spark):
        pdf, truth = make_corpus(n_base=60, seed=42)
        cfg = DedupConfig()
        df = key_docs(spark.createDataFrame(pdf).repartition(4))
        found = substring_pairs(df, cfg)
        got = {(r["key_a"], r["key_b"]) for r in found.collect()}
        planted = {
            (r["key_a"], r["key_b"])
            for _, r in truth[truth["kind"] == "substring"].iterrows()
        }
        # sampled fingerprints: per-pair miss prob ~ e^-8; all planted pairs
        # must be found at this scale
        missing = planted - got
        assert not missing, f"missed substring dups: {missing}"
        # verification is exact — lcs_len >= min_len for every reported pair
        for r in found.collect():
            assert r["lcs_len"] >= cfg.substring_min_len

    def test_shared_block_beyond_chunk_offset_found(self, spark):
        """VERDICT r2 #3: a 512-char block shared at a >1 MiB offset inside
        two ~4 MiB documents must be found — the old content-prefix
        truncation silently rejected exactly this case. Offset-anchored
        windows verify the block in place."""
        rng = np.random.default_rng(17)

        def rand_text(n):
            return bytes(rng.integers(97, 123, size=n).astype(np.uint8)).decode()

        block = rand_text(512)
        doc_a = rand_text(3 << 20) + block + rand_text(1 << 20)   # block @ 3 MiB
        doc_b = rand_text(2 << 20) + block + rand_text(2 << 20)   # block @ 2 MiB
        pdf = pd.DataFrame(
            {
                "repo": ["r", "r"],
                "path": ["big/a", "big/b"],
                "commit": ["h", "h"],
                "lang": ["en", "en"],
                "content": [doc_a, doc_b],
            }
        )
        cfg = DedupConfig()
        assert cfg.substring_chunk == 1 << 20  # the regime being tested
        df = key_docs(spark.createDataFrame(pdf))
        rows = substring_pairs(df, cfg).collect()
        assert len(rows) == 1, "shared block beyond the 1 MiB prefix missed"
        assert rows[0]["lcs_len"] >= 512

    def test_two_blocks_in_different_tiles_reports_longest(self, spark):
        """Two shared blocks living in DIFFERENT chunk tiles exercise the
        multi-window cross-product verify: the pair must report the longer
        block's length even though each block anchors a different JVM-cut
        window. A shrunken chunk keeps the multi-tile regime cheap — the
        windowing code is identical at any chunk size (the default-chunk
        regime is covered by test_shared_block_beyond_chunk_offset_found)."""
        rng = np.random.default_rng(23)
        chunk = 128 << 10

        def rand_text(n):
            return bytes(rng.integers(97, 123, size=n).astype(np.uint8)).decode()

        short = rand_text(600)
        long = rand_text(1500)
        doc_a = rand_text(chunk) + short + rand_text(2 * chunk) + long + rand_text(chunk // 2)
        doc_b = rand_text(chunk // 2) + long + rand_text(2 * chunk) + short + rand_text(chunk)
        pdf = pd.DataFrame(
            {
                "repo": ["r", "r"],
                "path": ["two/a", "two/b"],
                "commit": ["h", "h"],
                "lang": ["en", "en"],
                "content": [doc_a, doc_b],
            }
        )
        cfg = DedupConfig(substring_chunk=chunk)
        df = key_docs(spark.createDataFrame(pdf))
        rows = substring_pairs(df, cfg).collect()
        assert len(rows) == 1
        assert rows[0]["lcs_len"] >= 1500

    def test_many_large_docs_planted_blocks(self, spark):
        """The windows path at its design point: a corpus of docs much
        larger than the chunk, where each planted pair shares one 2 KiB
        block at an arbitrary beyond-chunk offset. Exactly the planted
        pairs must verify, through bounded JVM-cut windows — full contents
        never reach Python. Chunk shrunk for suite speed; the windowing
        code is chunk-size-agnostic."""
        rng = np.random.default_rng(29)
        n_pairs, doc_mb, chunk = 6, 512 << 10, 128 << 10

        def rand_text(n):
            return bytes(rng.integers(97, 123, size=n).astype(np.uint8)).decode()

        rows, planted = [], set()
        for i in range(n_pairs):
            block = rand_text(2048)
            for side in ("a", "b"):
                off = int(rng.integers(0, doc_mb - 2048))
                body = rand_text(doc_mb)
                rows.append(
                    dict(repo="r", path=f"big/{i}/{side}", commit="h",
                         lang="en", content=body[:off] + block + body[off:])
                )
            planted.add((f"big/{i}/a", f"big/{i}/b"))
        pdf = pd.DataFrame(rows)
        cfg = DedupConfig(substring_chunk=chunk)
        df = key_docs(spark.createDataFrame(pdf).repartition(8))
        keymap = {r["doc_key"]: r["path"]
                  for r in df.select("doc_key", "path").collect()}
        found = substring_pairs(df, cfg).collect()
        got = {tuple(sorted((keymap[r["key_a"]], keymap[r["key_b"]])))
               for r in found}
        assert got == planted, got ^ planted
        for r in found:
            assert r["lcs_len"] >= 2048

    def test_hot_fingerprint_bucket_salted_pairs_all(self, spark):
        """HOT_BUCKET_MIN + 6 docs share one block longer than
        substring_min_len: each of the block's sampled fingerprints is a
        hot bucket under the cap, which pairs through the salted join
        (pmod id-hash salt on one side, explode across salts on the other),
        and the pairs equal the naive all-pairs set."""
        from itertools import combinations

        from dedup.buckets import HOT_BUCKET_MIN

        rng = np.random.default_rng(11)

        def rand_text(n):
            return bytes(rng.integers(97, 123, size=n).astype(np.uint8)).decode()

        cfg = DedupConfig()
        n = HOT_BUCKET_MIN + 6
        assert n <= cfg.band_bucket_cap  # hot, not capped
        block = rand_text(cfg.substring_min_len + 88)
        pdf = pd.DataFrame(
            {
                "repo": ["r"] * n,
                "path": [f"hot/{i:03d}" for i in range(n)],
                "commit": ["h"] * n,
                "lang": ["en"] * n,
                "content": [rand_text(int(rng.integers(100, 400))) + block
                            + rand_text(150) for _ in range(n)],
            }
        )
        df = key_docs(spark.createDataFrame(pdf).repartition(4))
        pairs = substring_pairs(df, cfg)
        plan = pairs._jdf.queryExecution().executedPlan().toString().lower()
        assert "pmod" in plan and "explode" in plan, plan
        rows = pairs.collect()
        keys = [r["doc_key"] for r in df.select("doc_key").collect()]
        assert {(r["key_a"], r["key_b"]) for r in rows} == set(
            combinations(sorted(keys), 2))
        assert len(rows) == n * (n - 1) // 2
        assert all(r["lcs_len"] >= len(block) for r in rows)

    def test_anchor_cap_bounds_work_on_near_identical_docs(self, spark):
        """A pair sharing thousands of fingerprints retains at most
        MAX_ANCHORS verification windows and still verifies."""
        from dedup.suffix import MAX_ANCHORS, anchored_candidates, fingerprints

        rng = np.random.default_rng(3)
        base = bytes(rng.integers(97, 123, size=200_000).astype(np.uint8)).decode()
        pdf = pd.DataFrame(
            {
                "repo": ["r", "r"],
                "path": ["p/a", "p/b"],
                "commit": ["h", "h"],
                "lang": ["en", "en"],
                "content": [base + "tail-a", "head-b" + base],
            }
        )
        cfg = DedupConfig()
        df = key_docs(spark.createDataFrame(pdf))
        anc = anchored_candidates(fingerprints(df, cfg), cfg).collect()
        assert len(anc) == 1
        assert len(anc[0]["anchors"]) <= MAX_ANCHORS
        rows = substring_pairs(df, cfg).collect()
        assert len(rows) == 1 and rows[0]["lcs_len"] >= 200_000 - 1


class TestDiagonalExtension:
    def test_diag_extend_exact(self):
        """_diag_extend returns the exact common-block length through an
        anchor diagonal: left+right byte runs, 0 on a first-byte mismatch
        (hash collision)."""
        from dedup.suffix import _diag_extend

        rng = np.random.default_rng(11)
        a = rng.integers(0, 4, 10_000).astype(np.uint8)
        b = rng.integers(5, 9, 10_000).astype(np.uint8)
        block = rng.integers(10, 250, 777).astype(np.uint8)
        a[1000:1777] = block
        b[4000:4777] = block
        # anchor anywhere inside the block: full 777 recovered
        for d in (0, 100, 776):
            got = _diag_extend(a, 1000 + d, b, 4000 + d)
            assert got == 777, (d, got)
        # anchor on a mismatch diagonal: 0
        assert _diag_extend(a, 1000, b, 4001) == 0
        # block at array edges extends to the boundary
        assert _diag_extend(a[1000:1777], 0, b[4000:4777], 0) == 777

    def test_near_identical_bigdoc_kernel_bounded(self):
        """VERDICT r3 #2 done-criterion: per-pair verify cost on big
        near-identical docs. In-process replica of the verify kernel's
        work on a 2 MiB x 2 MiB pair — diagonal extension must find the
        exact block so every subsequent window-pair probe is a single
        refutation. The old gallop-only path spent ~2*log2(lcs) O(n)
        probes (~10s measured); the bound below fails loudly on any
        regression to that regime while staying far from hypervisor
        noise."""
        import time

        from dedup.suffix import _diag_extend, _lcb_pre, _prefix_hashes

        rng = np.random.default_rng(13)
        n = 2_000_000
        a = rng.integers(97, 123, n).astype(np.uint8)
        b = a.copy()
        b[500_000:500_006] = ord("X")  # two edits -> 1 MiB shared middle
        b[1_500_000:1_500_006] = ord("Y")
        # host-speed yardstick measured IN THIS PROCESS, so hypervisor
        # steal inflates yardstick and kernel alike and the RATIO stays
        # meaningful (an absolute 5s bound flaked under measured 5-17%
        # steal bursts): two O(n) prefix-hash passes.
        t0 = time.time()
        pa, pb = _prefix_hashes(a), _prefix_hashes(b)
        t_hash = time.time() - t0
        t0 = time.time()
        # anchor inside the shared middle block, as sampling guarantees
        best = _diag_extend(a, 700_000, b, 700_000)
        refuted = _lcb_pre(a, pa, b, pb, best + 1)
        wall = time.time() - t0
        assert best == 999_994
        assert refuted == 0  # nothing longer exists -> single-probe refutation
        # diag-extend + one refutation is a small constant number of O(n)
        # passes (~1-2x the yardstick); the old gallop-only regime cost
        # ~2*log2(lcs) O(n) probes (~10-20x). 6x flags the regression with
        # wide noise headroom; the absolute floor keeps micro-walls from
        # tripping the ratio on scheduler jitter.
        assert wall < max(1.0, 6.0 * t_hash), (
            f"verify kernel took {wall:.2f}s vs {t_hash:.2f}s hash yardstick "
            "- gallop regression?"
        )


class TestContainmentPairs:
    """ADVICE r5: containment detection is bounded + escalated — direct
    lcs-covers-side detection for in-window sides, whole-content contains()
    escalation for sides larger than one verification window."""

    @staticmethod
    def _mk(spark, rows):
        import pandas as pd

        pdf = pd.DataFrame(
            {
                "repo": ["r"] * len(rows),
                "path": [f"doc/{i:012d}" for i in range(len(rows))],
                "commit": ["head"] * len(rows),
                "lang": ["txt"] * len(rows),
                "content": rows,
            }
        )
        return key_docs(spark.createDataFrame(pdf).repartition(3))

    @staticmethod
    def _rand_text(rng, n):
        return "".join(
            chr(c) for c in rng.integers(ord("a"), ord("z") + 1, size=n)
        )

    def test_direct_containment_in_window(self, spark):
        """Contained side <= chunk bytes: detected via lcs_len == length,
        no escalation needed."""
        from dedup.suffix import containment_pairs

        rng = np.random.default_rng(7)
        inner = self._rand_text(rng, 200)
        outer = self._rand_text(rng, 300) + inner + self._rand_text(rng, 300)
        other = self._rand_text(rng, 400)
        df = self._mk(spark, [inner, outer, other])
        cfg = DedupConfig(substring_min_len=64, substring_chunk=1024)
        got = {
            (r["key_contained"], r["key_container"])
            for r in containment_pairs(df, cfg).collect()
        }
        keys = {r["path"]: r["doc_key"] for r in df.select("path", "doc_key").collect()}
        assert got == {(keys["doc/000000000000"], keys["doc/000000000001"])}

    def test_escalated_containment_beyond_window(self, spark):
        """Contained side LARGER than the 3*chunk verification tile: the
        suffix pass alone saturates lcs_len below the side's length (the
        round-5 silent miss), and the contains() escalation recovers it."""
        from dedup.suffix import containment_pairs

        rng = np.random.default_rng(11)
        chunk = 256
        inner = self._rand_text(rng, 900)          # > 3*chunk = 768
        outer = self._rand_text(rng, 500) + inner + self._rand_text(rng, 500)
        df = self._mk(spark, [inner, outer])
        cfg = DedupConfig(substring_min_len=64, substring_chunk=chunk)
        raw = substring_pairs(df, cfg).collect()
        assert raw and all(r["lcs_len"] < 900 for r in raw), (
            "fixture must saturate the window: lcs_len must undershoot "
            f"the contained side, got {raw}"
        )
        got = {
            (r["key_contained"], r["key_container"])
            for r in containment_pairs(df, cfg).collect()
        }
        keys = {r["path"]: r["doc_key"] for r in df.select("path", "doc_key").collect()}
        assert got == {(keys["doc/000000000000"], keys["doc/000000000001"])}

    def test_verbatim_equal_docs_contain_each_other(self, spark):
        from dedup.suffix import containment_pairs

        rng = np.random.default_rng(13)
        text = self._rand_text(rng, 300)
        df = self._mk(spark, [text, text])
        cfg = DedupConfig(substring_min_len=64, substring_chunk=1024)
        got = {
            (r["key_contained"], r["key_container"])
            for r in containment_pairs(df, cfg).collect()
        }
        ks = sorted(r["doc_key"] for r in df.select("doc_key").collect())
        assert got == {(ks[0], ks[1]), (ks[1], ks[0])}

"""Numpy sketch kernels + compact mergeable sketch structures.

This is the frozen kernel layer: every hash the pipeline computes (shingle
hashes, MinHash permutations, SimHash bits, LSH band hashes) is defined here
and ONLY here, so the distributed Spark pipeline and the single-node numpy
reference implementation are bit-identical by construction (SURVEY.md §7.4-3).

Sketch structures follow the reference's lifecycle contract —
update / merge / serialize / heapify with a self-describing validated preamble:
  - update appends state, merge is associative and schema-checked
    (reference: decomposition/FrequentDirections.java:187-232)
  - serialized image = little-endian preamble + payload, empty state is
    header-only (FrequentDirections.java:377-412, PreambleUtil.java:38-52)
  - heapify validates ser-ver and family id and raises on corruption
    (FrequentDirections.java:104-148)

All arithmetic is uint64 with natural wraparound; constants are np.uint64 to
avoid numpy's int-promotion pitfalls. No per-row Python anywhere: every kernel
takes whole batches (BASELINE.json input_hint).
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

U64 = np.uint64
# splitmix64 constants (public domain, Steele et al., JDK SplittableRandom)
_SM_GAMMA = U64(0x9E3779B97F4A7C15)
_SM_M1 = U64(0xBF58476D1CE4E5B9)
_SM_M2 = U64(0x94D049BB133111EB)
# polynomial combine multipliers for token windows (odd 64-bit constants)
_POLY = np.array(
    [0x9E3779B97F4A7C15, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
     0x27D4EB2F165667C5, 0x85EBCA77C2B2AE63, 0xFF51AFD7ED558CCD,
     0xC4CEB9FE1A85EC53, 0x2545F4914F6CDD1D],
    dtype=np.uint64,
)
_BAND_MUL = U64(0xFF51AFD7ED558CCD)

# family ids continue the reference's registry: MATRIX=128, FREQUENTDIRECTIONS=129
# (reference: matrix/MatrixFamily.java:43-47)
FAMILY_MINHASH = 130
FAMILY_SIGBLOCK = 131
# ser-ver 2: seed field widened 32 -> 64 bits (headers 24 -> 28 bytes); the
# bump makes any other image fail fast with 'unsupported ser-ver' instead of
# a misleading truncation/garbage downstream error (ADVICE r2) — the
# reference's heapify discipline (FrequentDirections.java:117-126: wrong
# ser-ver is rejected by name). Only SER_VER decodes: no checkpoint written
# under another version was ever deployed.
SER_VER = 2
MAGIC = 0x4D485348  # "MHSH"
FLAG_EMPTY = 4      # same flag value the reference uses (PreambleUtil.java:79)


def splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer over uint64 arrays (wrapping)."""
    z = x.astype(np.uint64, copy=True)
    z += _SM_GAMMA
    z = (z ^ (z >> U64(30))) * _SM_M1
    z = (z ^ (z >> U64(27))) * _SM_M2
    return z ^ (z >> U64(31))


def hash_strings(values: np.ndarray) -> np.ndarray:
    """Deterministic 64-bit hashes for an object array of strings.

    pandas' hash_array is SipHash-1-3 with a fixed key — deterministic across
    processes and runs, vectorized in C.
    """
    if len(values) == 0:
        return np.empty(0, dtype=np.uint64)
    return pd.util.hash_array(np.asarray(values, dtype=object))


def perm_seeds(num_perm: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """The MinHash permutation family: (a, b) multiply-add coefficients
    derived from the master seed via splitmix64 (a seeded stream, like the
    reference's seeded Gaussian start block in computeSISVD,
    MatrixOpsImplOjAlgo.java:178). g_j(x) = a_j * x + b_j over wrapping
    uint64 with odd a_j — 2 ops per evaluation; the hot loop of the whole
    engine (128 evals per shingle)."""
    idx = np.arange(1, num_perm + 1, dtype=np.uint64) + U64(seed & 0xFFFFFFFFFFFFFFFF)
    a = splitmix64(idx) | U64(1)
    b = splitmix64(idx + U64(0x9E3779B97F4A7C15))
    return a, b


def combine_windows(token_hashes: np.ndarray, k: int) -> np.ndarray:
    """Polynomial combine of every length-k window of a flat uint64 array.

    Returns an array of len(token_hashes) - k + 1 mixed window hashes.
    Caller masks out windows that cross document boundaries.
    """
    n = len(token_hashes)
    if n < k:
        return np.empty(0, dtype=np.uint64)
    acc = token_hashes[: n - k + 1] * _POLY[0]
    for j in range(1, k):
        acc = acc + token_hashes[j : n - k + 1 + j] * _POLY[j % len(_POLY)]
    return splitmix64(acc)


def minhash_from_segments(
    shingles: np.ndarray, starts: np.ndarray,
    seeds: tuple[np.ndarray, np.ndarray], chunk: int = 32, tile: int = 8192,
) -> np.ndarray:
    """MinHash signatures for contiguous shingle segments.

    shingles: flat uint64 array of shingle hashes for a batch of docs
    starts:   int64 array of segment start offsets (every segment non-empty)
    seeds:    (a, b) multiply-add coefficient arrays from perm_seeds
    Returns (n_docs, num_perm) uint64.

    Hot loop of the engine: 128 evals/shingle. Work is TILED over
    cache-sized runs of whole segments with a PREALLOCATED hash buffer
    (np.multiply(..., out=)) — per-op temporaries of chunk*n_shingles*8
    bytes otherwise dominate wall time via page faults and kill multicore
    scaling (measured 20x single-core + 0.83 parallel efficiency at 8→32
    cores vs 0.45 without). The reference applies the same discipline with
    its cached decomposition workspace (SURVEY §4-5,
    MatrixOpsImplOjAlgo.java:161-184).
    """
    a, b = seeds
    n_docs = len(starts)
    num_perm = len(a)
    out = np.full((n_docs, num_perm), np.iinfo(np.uint64).max, dtype=np.uint64)
    if n_docs == 0 or len(shingles) == 0:
        return out
    n = len(shingles)
    seg_bounds = np.append(starts, n).astype(np.int64)
    # a tile holds whole segments; oversized single segments get their own tile
    buf = np.empty((min(chunk, num_perm), max(tile * 2, 1)), dtype=np.uint64)
    i = 0
    while i < n_docs:
        j = i
        while j < n_docs and seg_bounds[j + 1] - seg_bounds[i] <= tile * 2:
            j += 1
        j = max(j, i + 1)
        lo, hi = int(seg_bounds[i]), int(seg_bounds[j])
        if hi - lo > buf.shape[1]:
            buf = np.empty((buf.shape[0], hi - lo), dtype=np.uint64)
        s = shingles[lo:hi]
        local_starts = (starts[i:j] - lo).astype(np.int64)
        for c0 in range(0, num_perm, chunk):
            c1 = min(c0 + chunk, num_perm)
            h = buf[: c1 - c0, : hi - lo]
            np.multiply(a[c0:c1, None], s[None, :], out=h)
            h += b[c0:c1, None]
            out[i:j, c0:c1] = np.minimum.reduceat(h, local_starts, axis=1).T
        i = j
    return out


_LANE_MASK = U64(0x0101010101010101)


def simhash_from_segments(shingles: np.ndarray, starts: np.ndarray,
                          seg_counts: np.ndarray) -> np.ndarray:
    """64-bit SimHash per segment: majority vote over shingle-hash bits.

    Bit j of the fingerprint is 1 iff >= half of the segment's shingle hashes
    have bit j set (ties round up). Returns (n_docs,) uint64.

    SWAR accumulation: pass j (j=0..7) isolates bits {j, j+8, ..., j+56} into
    the 8 byte lanes of each uint64 ((x >> j) & 0x0101...) and sums whole
    sub-blocks of <= 255 shingles with ONE reduceat — no carry can cross
    lanes — then folds sub-block lane counts per document. 8 passes over the
    uint64 stream instead of 64 unpacked byte columns: ~100x faster than the
    naive bit-matrix reduceat at identical output.
    """
    n_docs = len(starts)
    if n_docs == 0:
        return np.empty(0, dtype=np.uint64)
    n = len(shingles)
    seg_counts = np.asarray(seg_counts, dtype=np.int64)
    # sub-blocks of <= 255 elements aligned to segment starts
    n_sub = (seg_counts + 254) // 255
    total_sub = int(n_sub.sum())
    sub_doc = np.repeat(np.arange(n_docs, dtype=np.int64), n_sub)
    base = np.repeat(starts, n_sub)
    intra = (
        np.arange(total_sub, dtype=np.int64)
        - np.repeat(np.cumsum(n_sub) - n_sub, n_sub)
    ) * 255
    sub_starts = base + intra

    sums = np.empty((n_docs, 64), dtype=np.int64)
    tmp = np.empty(n, dtype=np.uint64)
    for j in range(8):
        np.right_shift(shingles, U64(j), out=tmp)
        tmp &= _LANE_MASK
        lanes = np.add.reduceat(tmp, sub_starts).view(np.uint8).reshape(-1, 8)
        doc_sums = np.zeros((n_docs, 8), dtype=np.int64)
        np.add.at(doc_sums, sub_doc, lanes)
        sums[:, j::8] = doc_sums  # lane k of pass j = bit j + 8k (little-endian)
    maj = (2 * sums >= seg_counts[:, None]).astype(np.uint64)
    return (maj << np.arange(64, dtype=np.uint64)[None, :]).sum(
        axis=1, dtype=np.uint64
    )


def band_hashes(sig: np.ndarray, bands: int, rows: int, seed: int) -> np.ndarray:
    """LSH band hashes: (n_docs, bands) uint64 from (n_docs, bands*rows) sigs.

    Each band hash folds its `rows` signature components through a
    multiply-xor-mix chain seeded per band, so identical sub-signatures in
    different bands never collide into the same bucket.
    """
    n = sig.shape[0]
    s = sig.reshape(n, bands, rows)
    acc = np.broadcast_to(
        splitmix64(np.arange(bands, dtype=np.uint64) + U64(seed)), (n, bands)
    ).copy()
    for r in range(rows):
        acc = splitmix64((acc * _BAND_MUL) ^ s[:, :, r])
    return acc


def hamming64(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Vectorized Hamming distance between uint64 fingerprint arrays."""
    return _popcount(np.asarray(a, dtype=np.uint64) ^ np.asarray(b, dtype=np.uint64))


def _popcount(x: np.ndarray) -> np.ndarray:
    x = x.copy()
    c = np.zeros(len(x), dtype=np.int64)
    m1, m2, m4 = U64(0x5555555555555555), U64(0x3333333333333333), U64(0x0F0F0F0F0F0F0F0F)
    x = x - ((x >> U64(1)) & m1)
    x = (x & m2) + ((x >> U64(2)) & m2)
    x = (x + (x >> U64(4))) & m4
    c[:] = ((x * U64(0x0101010101010101)) >> U64(56)).astype(np.int64)
    return c


def estimate_jaccard(sig_a: np.ndarray, sig_b: np.ndarray) -> np.ndarray:
    """MinHash Jaccard estimate: fraction of equal components. Vectorized over
    (n_pairs, num_perm) matrices."""
    return (sig_a == sig_b).mean(axis=1)


# ---------------------------------------------------------------------------
# Mergeable sketch structures with compact serialization
# ---------------------------------------------------------------------------

_MINHASH_HEADER = struct.Struct("<IBBBxiQq")  # magic, ver, family, flags, num_perm, seed64, n


class SketchCorruptionError(ValueError):
    """Raised when a serialized sketch image fails validation — the analog of
    the reference's heapify rejections (FrequentDirections.java:117-126)."""


def check_preamble(buf: bytes, family: int, header_size: int) -> None:
    """The heapify checks every sketch image shares, in order: magic, then
    ser-ver by name (its byte is the fifth, so a ser-ver-1 image of any
    length names its version), then header size and family id."""
    if len(buf) < 5:
        raise SketchCorruptionError(f"image too short: {len(buf)} bytes")
    magic, ver = struct.unpack_from("<IB", buf)
    if magic != MAGIC:
        raise SketchCorruptionError(f"bad magic 0x{magic:08X}")
    if ver != SER_VER:
        raise SketchCorruptionError(f"unsupported ser-ver {ver}")
    if len(buf) < header_size:
        raise SketchCorruptionError(f"image too short: {len(buf)} bytes")
    if buf[5] != family:
        raise SketchCorruptionError(f"wrong family id {buf[5]}")


@dataclass
class MinHashSketch:
    """Corpus-level mergeable MinHash sketch.

    Maintains the elementwise minimum over all document signatures (equals the
    MinHash of the union of all shingle sets), plus a document counter.
    update = per-partition partial, merge = associative elementwise min —
    exactly the partial+final Aggregator contract the reference's
    update/merge embodies (FrequentDirections.java:187-232).
    """

    num_perm: int = 128
    seed: int = 42
    n: int = 0
    mins: np.ndarray = field(default=None)  # type: ignore[assignment]

    def __post_init__(self) -> None:
        if self.num_perm < 1:
            raise ValueError(f"num_perm must be >= 1, got {self.num_perm}")
        # seeds are identified mod 2^64 (perm_seeds masks identically), so a
        # full 64-bit value round-trips the header and merge schema checks
        # never false-negative on wide or negative seeds (ADVICE r1)
        self.seed = self.seed & 0xFFFFFFFFFFFFFFFF
        if self.mins is None:
            self.mins = np.full(self.num_perm, np.iinfo(np.uint64).max, dtype=np.uint64)

    @property
    def is_empty(self) -> bool:
        return self.n == 0

    def update(self, sig_matrix: np.ndarray) -> None:
        """Fold a (rows, num_perm) signature matrix into the sketch.
        Null/empty update is a no-op (reference: FrequentDirections.java:188-190)."""
        if sig_matrix is None or len(sig_matrix) == 0:
            return
        if sig_matrix.shape[1] != self.num_perm:
            raise ValueError(
                f"signature width {sig_matrix.shape[1]} != num_perm {self.num_perm}"
            )
        self.mins = np.minimum(self.mins, sig_matrix.min(axis=0).astype(np.uint64))
        self.n += int(sig_matrix.shape[0])

    def merge(self, other: "MinHashSketch") -> None:
        """Associative merge; schema-checked, empty-merge is a no-op
        (reference: FrequentDirections.java:211-232)."""
        if other is None or other.is_empty:
            return
        if other.num_perm != self.num_perm or other.seed != self.seed:
            raise ValueError(
                f"incompatible sketches: ({self.num_perm},{self.seed}) vs "
                f"({other.num_perm},{other.seed})"
            )
        self.mins = np.minimum(self.mins, other.mins)
        self.n += other.n

    def estimate_jaccard(self, other: "MinHashSketch") -> float:
        if other.num_perm != self.num_perm or other.seed != self.seed:
            raise ValueError("incompatible sketches")
        return float((self.mins == other.mins).mean())

    def to_bytes(self) -> bytes:
        """Empty state serializes header-only, like the reference's 16-byte
        empty image (FrequentDirections.java:381-383)."""
        flags = FLAG_EMPTY if self.is_empty else 0
        head = _MINHASH_HEADER.pack(
            MAGIC, SER_VER, FAMILY_MINHASH, flags, self.num_perm,
            self.seed, self.n,
        )
        if self.is_empty:
            return head
        return head + self.mins.tobytes()

    def size_bytes(self) -> int:
        """Full-image size (header + all components) — getSizeBytes analog
        (Matrix.java:164-173)."""
        return _MINHASH_HEADER.size + self.num_perm * 8

    def compact_size_bytes(self) -> int:
        """Serialized size of the CURRENT state (empty = header only) —
        getCompactSizeBytes analog (Matrix.java:176-189)."""
        return _MINHASH_HEADER.size if self.is_empty else self.size_bytes()

    def describe(self) -> str:
        """toString-style dump (FrequentDirections.java:437-507 analog)."""
        return "\n".join([
            "### MinHash sketch",
            f"   num_perm     : {self.num_perm}",
            f"   seed         : {self.seed}",
            f"   n            : {self.n}",
            f"   empty        : {self.is_empty}",
            f"   compact bytes: {self.compact_size_bytes()}",
        ])

    @classmethod
    def from_bytes(cls, buf: bytes) -> "MinHashSketch":
        check_preamble(buf, FAMILY_MINHASH, _MINHASH_HEADER.size)
        _, _, _, flags, num_perm, seed, n = _MINHASH_HEADER.unpack_from(buf)
        sk = cls(num_perm=num_perm, seed=seed)
        if flags & FLAG_EMPTY:
            return sk
        need = _MINHASH_HEADER.size + num_perm * 8
        if len(buf) < need:
            raise SketchCorruptionError(f"truncated payload: {len(buf)} < {need}")
        sk.mins = np.frombuffer(buf, dtype=np.uint64, count=num_perm,
                                offset=_MINHASH_HEADER.size).copy()
        sk.n = n
        return sk


_SIGBLOCK_HEADER = struct.Struct("<IBBBxiQq")  # magic, ver, family, flags, num_perm, seed64, n_rows


@dataclass
class SignatureBlock:
    """Per-partition signature-matrix state: one compact block of
    (doc_key, content_sha, minhash row, simhash, n_shingles) rows — the
    checkpointable unit of the signatures stage. The signatures table can be
    reconstructed entirely from these blocks (resume-from-checkpoint, M4).

    Compact serialization stores only used rows (the reference's
    toCompactByteArray discipline, matrix/MatrixImplOjAlgo.java:136-175):
    header + key-length table + utf8 keys + raw 32-byte sha digests +
    simhash vector + n_shingles vector + row-major uint64 signature matrix.
    merge = concat + first-writer-wins dedupe by key after canonical sort,
    so merge output is independent of merge order (SURVEY §2.3-1).
    """

    num_perm: int = 128
    seed: int = 42
    keys: list = field(default_factory=list)
    shas: list = field(default_factory=list)
    sigs: np.ndarray = field(default=None)  # type: ignore[assignment]
    sims: np.ndarray = field(default=None)  # type: ignore[assignment]
    n_shingles: np.ndarray = field(default=None)  # type: ignore[assignment]

    def __post_init__(self) -> None:
        self.seed = self.seed & 0xFFFFFFFFFFFFFFFF  # same masking as MinHashSketch
        if self.sigs is None:
            self.sigs = np.empty((0, self.num_perm), dtype=np.uint64)
        if self.sims is None:
            self.sims = np.empty(0, dtype=np.uint64)
        if self.n_shingles is None:
            self.n_shingles = np.empty(0, dtype=np.int32)

    @property
    def n(self) -> int:
        return len(self.keys)

    @property
    def is_empty(self) -> bool:
        return self.n == 0

    def update(
        self,
        keys: list,
        shas: list,
        sig_matrix: np.ndarray,
        sims: np.ndarray,
        n_shingles: np.ndarray,
    ) -> None:
        if keys is None or len(keys) == 0:
            return
        if sig_matrix.shape != (len(keys), self.num_perm):
            raise ValueError(
                f"shape {sig_matrix.shape} != ({len(keys)},{self.num_perm})"
            )
        if len(shas) != len(keys) or len(sims) != len(keys) or len(n_shingles) != len(keys):
            raise ValueError("row-count mismatch across signature columns")
        self.keys.extend(keys)
        self.shas.extend(shas)
        self.sigs = np.vstack([self.sigs, sig_matrix.astype(np.uint64)])
        self.sims = np.concatenate([self.sims, np.asarray(sims, dtype=np.uint64)])
        self.n_shingles = np.concatenate(
            [self.n_shingles, np.asarray(n_shingles, dtype=np.int32)]
        )

    def merge(self, other: "SignatureBlock") -> None:
        if other is None or other.is_empty:
            return
        if other.num_perm != self.num_perm or other.seed != self.seed:
            raise ValueError("incompatible signature blocks")
        self.update(other.keys, other.shas, other.sigs, other.sims, other.n_shingles)
        self._canonicalize()

    def _canonicalize(self) -> None:
        if self.n == 0:
            return
        keys = np.asarray(self.keys, dtype=object)
        order = np.argsort(keys, kind="stable")
        keep_sorted = np.ones(len(keys), dtype=bool)
        ks = keys[order]
        keep_sorted[1:] = ks[1:] != ks[:-1]
        sel = order[keep_sorted]
        self.keys = list(keys[sel])
        self.shas = list(np.asarray(self.shas, dtype=object)[sel])
        self.sigs = self.sigs[sel]
        self.sims = self.sims[sel]
        self.n_shingles = self.n_shingles[sel]

    def to_bytes(self) -> bytes:
        flags = FLAG_EMPTY if self.is_empty else 0
        head = _SIGBLOCK_HEADER.pack(
            MAGIC, SER_VER, FAMILY_SIGBLOCK, flags, self.num_perm,
            self.seed, self.n,
        )
        if self.is_empty:
            return head
        key_bytes = [k.encode("utf-8") for k in self.keys]
        lens = np.array([len(b) for b in key_bytes], dtype=np.int32)
        sha_raw = b"".join(bytes.fromhex(s) for s in self.shas)
        return (
            head
            + lens.tobytes()
            + b"".join(key_bytes)
            + sha_raw
            + self.sims.tobytes()
            + self.n_shingles.tobytes()
            + self.sigs.tobytes()
        )

    def compact_size_bytes(self) -> int:
        """Exact serialized size of the current state: header + key-length
        table + utf8 keys + 32B shas + simhash + n_shingles + signature
        matrix — only used rows, the toCompactByteArray discipline
        (MatrixImplOjAlgo.java:136-175, Matrix.java:176-189)."""
        if self.is_empty:
            return _SIGBLOCK_HEADER.size
        key_bytes = sum(len(k.encode("utf-8")) for k in self.keys)
        n = self.n
        return (_SIGBLOCK_HEADER.size + 4 * n + key_bytes + 32 * n + 8 * n
                + 4 * n + n * self.num_perm * 8)

    def describe(self) -> str:
        return "\n".join([
            "### SignatureBlock sketch",
            f"   num_perm     : {self.num_perm}",
            f"   seed         : {self.seed}",
            f"   rows         : {self.n}",
            f"   empty        : {self.is_empty}",
            f"   compact bytes: {self.compact_size_bytes()}",
        ])

    @classmethod
    def from_bytes(cls, buf: bytes) -> "SignatureBlock":
        check_preamble(buf, FAMILY_SIGBLOCK, _SIGBLOCK_HEADER.size)
        _, _, _, flags, num_perm, seed, n = _SIGBLOCK_HEADER.unpack_from(buf)
        blk = cls(num_perm=num_perm, seed=seed)
        if flags & FLAG_EMPTY:
            return blk
        off = _SIGBLOCK_HEADER.size
        if len(buf) < off + 4 * n or n < 0:
            raise SketchCorruptionError("truncated key-length table")
        lens = np.frombuffer(buf, dtype=np.int32, count=n, offset=off)
        off += 4 * n
        total_key = int(lens.sum())
        need = off + total_key + 32 * n + 8 * n + 4 * n + n * num_perm * 8
        if len(buf) < need:
            raise SketchCorruptionError(f"truncated payload: {len(buf)} < {need}")
        keys, pos = [], off
        for ln in lens:
            keys.append(buf[pos : pos + ln].decode("utf-8"))
            pos += int(ln)
        shas = [buf[pos + 32 * i : pos + 32 * (i + 1)].hex() for i in range(n)]
        pos += 32 * n
        sims = np.frombuffer(buf, dtype=np.uint64, count=n, offset=pos).copy()
        pos += 8 * n
        nsh = np.frombuffer(buf, dtype=np.int32, count=n, offset=pos).copy()
        pos += 4 * n
        sigs = np.frombuffer(buf, dtype=np.uint64, count=n * num_perm,
                             offset=pos).reshape(n, num_perm).copy()
        blk.keys, blk.shas, blk.sigs, blk.sims, blk.n_shingles = keys, shas, sigs, sims, nsh
        return blk

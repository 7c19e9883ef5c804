"""Generate committed golden-pair parquet for the MinHash-LSH and
SimHash dedup queries (fixtures/dedup_golden/).

Freeze-by-independent-path (the geometry-goldens pattern,
geo/fixtures.py): the pair sets are derived HERE by a pure-
Python/numpy re-implementation of the public algorithms — tokenize →
3-gram shingle → XXH64 (functions/xxh64.py, pinned bit-for-bit
against ``F.xxhash64`` by tests/test_llm_ops.py) → 32-hash MinHash
signature → 8×4 banding → candidate buckets → exact-Jaccard verify;
and term-weighted 64-bit SimHash votes → 4×16-bit banding →
Hamming ≤ 6 — never by running the Spark operators they check. A
golden row set therefore breaks the driver's CORRECTNESS gate iff the
distributed plan drifts from the frozen row-level semantics.

Goldens are keyed by ``corpus_key = SUM(n_chars)`` of the documents
table (distinct per SF even where row counts collide, e.g. sf0.001
vs sf0.01 both have 500 docs), so ONE static oracle SQL string
selects the right slice at whatever SF the driver runs:
``WHERE corpus_key = (SELECT SUM(n_chars) FROM documents)``.

Usage: python scripts/gen_dedup_goldens.py [sf_dir ...]
Defaults to all three driver SFs. Output: one parquet per family
under fixtures/dedup_golden/.
"""

from __future__ import annotations

import os
import re
import sys
from collections import defaultdict

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from overturelink_data_pipeline_spark.functions.xxh64 import (  # noqa: E402
    _P1,
    _P3,
    _P4,
    _P5,
    hash_int,
    xxh64_bytes,
)

N_HASHES = 32
N_BANDS = 8
ROWS_PER_BAND = N_HASHES // N_BANDS
JACCARD_MIN = 0.5
HAMMING_MAX = 6
ID_SHIFT = 1_000_000
# mirrors operators/dedup.py BAND_BUCKET_CAP's default: buckets larger
# than this are skipped for candidate generation (LSH hot-bucket
# guard). No driver-corpus bucket comes near it — asserted in main().
BUCKET_CAP = 256

_U = np.uint64
_P2_U = _U(0xC2B2AE3D27D4EB4F)


def _signed64(u: np.ndarray) -> np.ndarray:
    return u.view(np.int64)


def _sig_matrix(hashes: np.ndarray, seeds: np.ndarray) -> np.ndarray:
    """MinHash signature: signed min over hash_long(h, seed_i) for each
    of the 32 seeds (seed_i = Spark's chained xxhash64(lit(i), h) —
    hash_int(i, 42) feeds in as the seed of the long hash). Vectorized
    (n_seeds, n_hashes) sweep of the xxh64 single-long kernel."""
    with np.errstate(over="ignore"):
        acc = hashes[None, :] * _P2_U
        acc = (acc << _U(31)) | (acc >> _U(33))
        k = acc * _U(_P1)
        h0 = (seeds + _U((_P5 + 8) & ((1 << 64) - 1))).astype(np.uint64)
        h = h0[:, None] ^ k
        h = ((h << _U(27)) | (h >> _U(37))) * _U(_P1) + _U(_P4)
        h ^= h >> _U(33)
        h *= _P2_U
        h ^= h >> _U(29)
        h *= _U(_P3)
        h ^= h >> _U(32)
    return _signed64(h).min(axis=1)  # signed min = Spark F.min over LongType


def load_corpus(sf_dir: str) -> tuple[int, list[tuple[int, str]]]:
    tbl = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
    doc_ids = tbl.column("doc_id").to_pylist()
    texts = tbl.column("text").to_pylist()
    n_chars = tbl.column("n_chars").to_pylist()
    corpus_key = int(sum(n_chars))
    rows = list(zip(doc_ids, texts))
    for doc_id, text in zip(doc_ids, texts):
        # prefix copies — same construction as _prefix_corpus (dedup.py)
        if doc_id % 7 == 0:
            rows.append((doc_id + ID_SHIFT, text[: int(len(text) * 0.8)]))
    for _, t in rows:
        # Java regex \s is ASCII-only; Spark trim strips spaces only —
        # identical to the Python path below ONLY for plain-ASCII,
        # space-separated text, so pin that precondition here
        assert t.isascii() and "\t" not in t and "\n" not in t, "non-trivial whitespace"
    return corpus_key, rows


def minhash_pairs(rows: list[tuple[int, str]]) -> list[tuple[int, int]]:
    """Band-bucket candidate pairs that pass Jaccard verification."""
    # shingle hash = Spark's multi-arg xxhash64(t0, t1, t2): each
    # column's hash seeds the next, starting from SPARK_SEED=42 —
    # replica pinned against F.xxhash64 in tests/test_llm_ops.py
    shingle_cache: dict[tuple[str, str, str], int] = {}
    doc_sh: dict[int, np.ndarray] = {}
    for doc_id, text in rows:
        toks = re.split(r"\s+", text.strip(" "))
        if len(toks) < 3:
            continue
        hs = set()
        for i in range(len(toks) - 2):
            key = (toks[i], toks[i + 1], toks[i + 2])
            h = shingle_cache.get(key)
            if h is None:
                h = xxh64_bytes(key[0].encode("utf-8"))
                h = xxh64_bytes(key[1].encode("utf-8"), h)
                h = xxh64_bytes(key[2].encode("utf-8"), h)
                shingle_cache[key] = h
            hs.add(h)
        doc_sh[doc_id] = np.fromiter(hs, dtype=np.uint64, count=len(hs))

    # regen-log pin (ADVICE r6): the uncapped DuckDB oracles of the
    # shingle families (dedup_incremental et al.) stay hash-exact only
    # while no shingle's doc-frequency reaches NGRAM_DF_CAP on the
    # corpus being checked — print the headroom at every regen so a
    # cap approach is seen here (and in tests/test_cap_headroom.py)
    # before it becomes a driver mismatch.
    all_h = np.concatenate(list(doc_sh.values()))
    _, counts = np.unique(all_h, return_counts=True)
    print(
        f"  max shingle df: {int(counts.max())} "
        f"(uncapped-oracle parity needs this well below NGRAM_DF_CAP=128)"
    )

    seeds = np.array([hash_int(i, 42) for i in range(N_HASHES)], dtype=np.uint64)
    buckets: dict[tuple[int, tuple], list[int]] = defaultdict(list)
    for doc_id, hs in doc_sh.items():
        sig = _sig_matrix(hs, seeds)
        for b in range(N_BANDS):
            key = tuple(sig[b * ROWS_PER_BAND : (b + 1) * ROWS_PER_BAND].tolist())
            buckets[(b, key)].append(doc_id)

    max_bucket = max((len(v) for v in buckets.values()), default=0)
    print(f"  minhash max band-bucket: {max_bucket} (cap {BUCKET_CAP})")
    cands: set[tuple[int, int]] = set()
    for ids in buckets.values():
        if len(ids) < 2 or len(ids) > BUCKET_CAP:
            continue
        ids = sorted(ids)
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                cands.add((ids[i], ids[j]))

    out = []
    sets = {d: set(hs.tolist()) for d, hs in doc_sh.items()}
    for id_a, id_b in sorted(cands):
        a, b = sets[id_a], sets[id_b]
        inter = len(a & b)
        if inter / (len(a) + len(b) - inter) >= JACCARD_MIN:
            out.append((id_a, id_b))
    return out


def simhash_pairs(rows: list[tuple[int, str]]) -> list[tuple[int, int, int]]:
    token_cache: dict[str, int] = {}
    sigs: dict[int, int] = {}
    for doc_id, text in rows:
        toks = re.split(r"\s+", text.strip(" "))
        votes = np.zeros(64, dtype=np.int64)
        for t in toks:  # with repetition — term-weighted votes
            h = token_cache.get(t)
            if h is None:
                h = xxh64_bytes(t.encode("utf-8"))
                token_cache[t] = h
            bits = (h >> np.arange(64, dtype=np.uint64)) & 1
            votes += np.where(bits.astype(bool), 1, -1)
        sim = 0
        for j in range(64):
            if votes[j] > 0:
                sim |= 1 << j
        sigs[doc_id] = sim  # unsigned 64-bit pattern

    buckets: dict[tuple[int, int], list[int]] = defaultdict(list)
    for doc_id, sim in sigs.items():
        for b in range(4):
            buckets[(b, (sim >> (16 * b)) & 0xFFFF)].append(doc_id)

    max_bucket = max((len(v) for v in buckets.values()), default=0)
    print(f"  simhash max band-bucket: {max_bucket} (cap {BUCKET_CAP})")
    cands: set[tuple[int, int]] = set()
    for ids in buckets.values():
        if len(ids) < 2 or len(ids) > BUCKET_CAP:
            continue
        ids = sorted(ids)
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                cands.add((ids[i], ids[j]))

    out = []
    for id_a, id_b in sorted(cands):
        hamming = bin(sigs[id_a] ^ sigs[id_b]).count("1")
        if hamming <= HAMMING_MAX:
            out.append((id_a, id_b, hamming))
    return out


def main(sf_dirs: list[str]) -> None:
    base = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "fixtures",
        "dedup_golden",
    )
    os.makedirs(base, exist_ok=True)
    mh_rows: list[tuple[int, int, int]] = []
    sh_rows: list[tuple[int, int, int, int]] = []
    for sf_dir in sf_dirs:
        corpus_key, rows = load_corpus(sf_dir)
        mh = minhash_pairs(rows)
        sh = simhash_pairs(rows)
        print(
            f"{sf_dir}: corpus_key={corpus_key} minhash={len(mh)} "
            f"simhash={len(sh)}"
        )
        mh_rows += [(corpus_key, a, b) for a, b in mh]
        sh_rows += [(corpus_key, a, b, h) for a, b, h in sh]

    def _write_if_changed(table: pa.Table, path: str) -> None:
        """Skip the write when an existing golden already holds the
        identical rows — regen must not churn committed bytes."""
        if os.path.exists(path) and pq.read_table(path).equals(table):
            print(f"  unchanged: {path}")
            return
        pq.write_table(table, path)
        print(f"  wrote: {path}")

    _write_if_changed(
        pa.table(
            {
                "corpus_key": pa.array([r[0] for r in mh_rows], pa.int64()),
                "id_a": pa.array([r[1] for r in mh_rows], pa.int64()),
                "id_b": pa.array([r[2] for r in mh_rows], pa.int64()),
            }
        ),
        os.path.join(base, "minhash_pairs.parquet"),
    )
    _write_if_changed(
        pa.table(
            {
                "corpus_key": pa.array([r[0] for r in sh_rows], pa.int64()),
                "id_a": pa.array([r[1] for r in sh_rows], pa.int64()),
                "id_b": pa.array([r[2] for r in sh_rows], pa.int64()),
                "hamming": pa.array([r[3] for r in sh_rows], pa.int32()),
            }
        ),
        os.path.join(base, "simhash_pairs.parquet"),
    )


if __name__ == "__main__":
    dirs = sys.argv[1:] or [
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
    ]
    main(dirs)

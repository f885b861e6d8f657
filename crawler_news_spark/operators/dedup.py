"""Deduplication operator family — exact, keep-first, MinHash+LSH, SimHash.

The reference's only true relational queries are its Mongo duplicate
pipelines (utils/filter_duplicate_record.py:25-62 group/push/match/slice/
unwind/lookup; utils/remove_record_duplicate.py keep-first delete) — mapped
here to groupBy/collect_list/slice/explode and window row_number.  On top,
the near-dup family a training-data pipeline needs: character-shingle
MinHash with banded LSH, true n-gram Jaccard on the LSH candidates, and a
64-bit SimHash (vectorized UDF).

Cross-engine determinism: MinHash uses lexicographic min over
``md5(seed || shingle)`` hex strings — identical in Spark and DuckDB, so the
whole MinHash/LSH/Jaccard pipeline has an exact ANSI-SQL oracle.  All float
outputs are integerized (micro-units) before comparison.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Exact + keep-first (reference A1/A2)
# ---------------------------------------------------------------------------


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact content dedup: keep the min id per md5(text)."""
    return (
        docs.withColumn("content_hash", F.md5(F.col(text_col)))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("n_copies"))
    )


def keep_first_dedup(df: DataFrame, keys: list[str], order_col: str) -> DataFrame:
    """A2 as a window: row_number()==1 keeps the first record per key group
    (idiomatic form of the Mongo slice/delete pipeline)."""
    w = Window.partitionBy(*keys).orderBy(order_col)
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def duplicate_groups(df: DataFrame, keys: list[str], id_col: str) -> DataFrame:
    """A1: groups with >1 record -> the duplicate ids (all but the first).

    Mirrors $group/$push/$match/$slice/$unwind
    (filter_duplicate_record.py:25-62); ids sorted so 'first' is
    deterministic (Mongo insertion order -> min id).
    """
    return (
        df.groupBy(*keys)
        .agg(F.sort_array(F.collect_list(id_col)).alias("ids"), F.count("*").alias("cnt"))
        .filter(F.col("cnt") > 1)
        .select(
            *keys,
            F.explode(F.slice("ids", 2, F.col("cnt").cast("int") - 1)).alias("dup_id"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash + LSH (character shingles)
#
# Scale design (the 100 TB path): signatures are computed in ONE vectorized
# Arrow pass per document — numpy sliding-window polynomial hashing over
# codepoints, then k affine min-hash transforms.  Nothing is exploded and
# nothing shuffles until the (tiny) signature table hits the banded LSH
# self-join.  Candidate pairs are verified with an exact shingle-set Jaccard
# vUDF over the two joined texts — |pairs| rows, not |pairs| x |shingles|.
#
# Cross-engine determinism: the shingle hash is Kirsch-Mitzenmacher double
# hashing over md5 — u1/u2 are the first two 40-bit halves of md5(shingle),
# sig_i = min over distinct shingles of (u1 + i*u2) mod prime P.  md5 is
# identical everywhere; the hex halves are CAST('0x…' AS BIGINT) in DuckDB,
# so the whole MinHash/LSH/Jaccard pipeline has an exact ANSI-SQL oracle.
# (A structured polynomial base hash was tried first: its lack of min-wise
# independence inflated band collisions ~2.5x vs md5 on a shared-vocabulary
# corpus — overlapping windows correlate any Horner-style hash.)
# ---------------------------------------------------------------------------

N_SIGS = 8
SHINGLE = 5
MH_P = 4_294_967_291  # largest 32-bit prime


def shingle_set_py(text: str) -> set:
    """Distinct 5-char windows; substr(text, i, 5) semantics (a doc shorter
    than 5 chars yields one short shingle; empty text yields {''})."""
    n = max(len(text) - (SHINGLE - 1), 1)
    return {text[i : i + SHINGLE] for i in range(n)}


def shingle_uv_py(s: str) -> tuple[int, int]:
    """(u1, u2) = first two 10-hex-digit halves of md5(shingle), mod P."""
    import hashlib

    hx = hashlib.md5(s.encode()).hexdigest()
    return int(hx[:10], 16) % MH_P, int(hx[10:20], 16) % MH_P


def minhash_sigs_py(text: str) -> list[int]:
    """Pure-Python spec: k Kirsch-Mitzenmacher min-hashes over the distinct
    shingle set.  i*u2 <= 7*(P-1) < 2^35, so everything fits signed 64-bit
    in both engines."""
    uv = [shingle_uv_py(s) for s in shingle_set_py(text)]
    return [min((u1 + i * u2) % MH_P for u1, u2 in uv) for i in range(N_SIGS)]


# per-worker shingle-hash memo: md5 is pure, and 5-char shingles of a
# shared-vocabulary corpus repeat heavily across documents (measured 0.3%
# distinct on the bench docs -> memo 4.5x), but a high-entropy corpus gets
# no hits (97% distinct on the 10x gate docs -> memo is pure dict
# overhead).  The memo therefore watches its own hit rate and disables
# itself per worker when misses dominate.  Bounded: cleared at the cap
# (~100 MB) rather than LRU-tracked.
_MH_SHINGLE_MEMO: dict[str, tuple[int, int]] = {}
_MH_SHINGLE_MEMO_CAP = 2_000_000
_MH_MEMO_STATE = {"lookups": 0, "hits": 0, "enabled": True}


def _sigs_batch(texts) -> "np.ndarray":  # noqa: F821
    """Vectorized minhash_sigs_py over a batch: (len(texts), N_SIGS).

    md5 once per distinct shingle per WORKER when the memo pays
    (int.from_bytes on the raw digest — same value as the hex-slice
    parse: hex[:10] IS digest[:5] big-endian); the k transforms + min are
    numpy."""
    import hashlib

    import numpy as np

    md5 = hashlib.md5
    from_bytes = int.from_bytes
    memo = _MH_SHINGLE_MEMO
    state = _MH_MEMO_STATE
    out = np.empty((len(texts), N_SIGS), dtype=np.int64)
    I = np.arange(N_SIGS, dtype=np.uint64).reshape(-1, 1)
    P = np.uint64(MH_P)
    for r, text in enumerate(texts):
        t = text or ""
        n = max(len(t) - (SHINGLE - 1), 1)
        shs = {t[i : i + SHINGLE] for i in range(n)}
        uv = np.empty((len(shs), 2), dtype=np.uint64)
        if state["enabled"]:
            hits = 0
            for k, s in enumerate(shs):
                hit = memo.get(s)
                if hit is None:
                    d = md5(s.encode()).digest()
                    hit = (from_bytes(d[:5], "big"), from_bytes(d[5:10], "big"))
                    if len(memo) >= _MH_SHINGLE_MEMO_CAP:
                        memo.clear()
                    memo[s] = hit
                else:
                    hits += 1
                uv[k, 0] = hit[0]
                uv[k, 1] = hit[1]
            state["lookups"] += len(shs)
            state["hits"] += hits
            if state["lookups"] >= 200_000 and state["hits"] < state["lookups"] * 0.3:
                state["enabled"] = False  # high-entropy corpus: stop paying
                memo.clear()
        else:
            for k, s in enumerate(shs):
                d = md5(s.encode()).digest()
                uv[k, 0] = from_bytes(d[:5], "big")
                uv[k, 1] = from_bytes(d[5:10], "big")
        u1 = uv[:, 0] % P
        u2 = uv[:, 1] % P
        out[r] = ((u1[None, :] + I * u2[None, :]) % P).min(axis=1).astype(np.int64)
    return out


def minhash_signatures(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", spread: bool = True) -> DataFrame:
    """k min-hash signatures per doc (long columns sig0..sig{k-1}).

    One mapInPandas pass: the scale path.  Output is exactly
    minhash_sigs_py per row (pytest) and the DuckDB Horner oracle (gate).

    ``spread`` repartitions the narrow (id, text) projection to the session's
    default parallelism first: a single parquet split (or an AQE-coalesced
    byte-small input) would otherwise run the whole vUDF on 1-2 tasks.  On a
    cluster whose scan already yields >= cores splits this is one extra
    round-robin shuffle of the projected columns — drop it with spread=False.
    """
    from pyspark.sql.types import LongType, StructField, StructType

    id_field = docs.schema[id_col]
    schema = StructType(
        [StructField(id_col, id_field.dataType)]
        + [StructField(f"sig{i}", LongType()) for i in range(N_SIGS)]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sigs = _sigs_batch(pdf[text_col].tolist())
            out = {id_col: pdf[id_col].values}
            for i in range(N_SIGS):
                out[f"sig{i}"] = sigs[:, i]
            yield pd.DataFrame(out)

    narrow = docs.select(id_col, text_col)
    if spread:
        narrow = narrow.repartition(docs.sparkSession.sparkContext.defaultParallelism)
    return narrow.mapInPandas(gen, schema)


def _band_table(sigs: DataFrame, id_col: str,
                rows_per_band: int) -> tuple[DataFrame, list[str]]:
    """(id, band, v0..v{r-1}) — one row per LSH band per document."""
    if N_SIGS % rows_per_band:
        raise ValueError(f"rows_per_band={rows_per_band} must divide N_SIGS={N_SIGS}")
    n_bands = N_SIGS // rows_per_band
    vcols = [f"v{j}" for j in range(rows_per_band)]
    bands = sigs.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        *[
                            F.col(f"sig{b * rows_per_band + j}").alias(f"v{j}")
                            for j in range(rows_per_band)
                        ],
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", *[f"bb.{v}" for v in vcols])
    return bands, vcols


def lsh_candidate_pairs(sigs: DataFrame, id_col: str = "doc_id",
                        rows_per_band: int = 2) -> DataFrame:
    """Banded LSH: docs sharing any band (all ``rows_per_band`` raw sig
    values) become candidate pairs (a<b).

    The self-join is keyed on (band, v0..v{r-1}) — a shuffle join on a
    high-cardinality key, NOT an O(n^2) cross join.  Band keys are the raw
    long signatures (every signature in the band participates — the LSH
    band probability s^r depends on it); no re-hash needed.
    """
    bands, vcols = _band_table(sigs, id_col, rows_per_band)
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(b, ["band", *vcols])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .distinct()
    )


def lsh_cross_pairs(sigs_new: DataFrame, sigs_old: DataFrame,
                    id_col: str = "doc_id",
                    rows_per_band: int = 2) -> DataFrame:
    """Banded LSH between a NEW batch and an EXISTING corpus — the
    incremental-ingest shape (daily corpus refresh): candidates are
    (doc_a=new, doc_b=old) pairs sharing any band.  Same high-cardinality
    shuffle join as the self-join; the existing corpus is never
    self-joined, so the cost scales with the BATCH, not the corpus."""
    ba, vcols = _band_table(sigs_new, id_col, rows_per_band)
    bb, _ = _band_table(sigs_old, id_col, rows_per_band)
    return (
        ba.alias("a").join(bb.alias("b"), ["band", *vcols])
        .select(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .distinct()
    )


def minhash_cross_near_dups(new_docs: DataFrame, old_docs: DataFrame,
                            text_col: str = "text", id_col: str = "doc_id",
                            threshold_u: int = 500_000,
                            min_sig_matches: int = 3) -> DataFrame:
    """Near-dups of a new batch AGAINST an existing corpus: signatures for
    both sides, banded cross-LSH, estimate prune, exact-Jaccard verify.
    Returns (doc_a=new, doc_b=old, n_inter, jaccard_u) at >= threshold.

    The fused prune/size-bound/fast-verify stages are the self-join
    pipeline's (see minhash_near_dups), fed the two (disjoint-id) sides —
    candidates are only ever new x old."""
    from . import _cache

    sigs_new = _cache.claim(
        "minhash_cross.sigs_new", minhash_signatures(new_docs, text_col, id_col)
    )
    sigs_old = _cache.claim(
        "minhash_cross.sigs_old", minhash_signatures(old_docs, text_col, id_col)
    )
    all_docs = new_docs.select(id_col, text_col).unionByName(
        old_docs.select(id_col, text_col)
    )
    sizes, verify, n_docs = _verify_plan(
        sigs_new, sigs_old, all_docs, text_col, id_col, threshold_u, "minhash_cross"
    )
    pairs = _fused_candidate_pairs(
        sigs_new, sizes, id_col, min_sig_matches, threshold_u,
        sigs_b=sigs_old, sizes_b=sizes, dedup=False,
        broadcast_bands=n_docs <= MH_BROADCAST_MAX_DOCS,
    )
    jac = verify(pairs)
    return jac.filter(F.col("jaccard_u") >= threshold_u).distinct()


def sig_estimate_prune(pairs: DataFrame, sigs: DataFrame, id_col: str = "doc_id",
                       min_matches: int = 3) -> DataFrame:
    """Prune LSH candidates by the MinHash Jaccard *estimate* (matching
    signature count) before fetching texts for the exact verify.

    On a shared-vocabulary corpus the banded LSH emits many low-similarity
    candidates; this column compare on the skinny signature table cuts the
    verify set (and the two text joins feeding it) by ~10x.  Deterministic,
    so the DuckDB oracle applies the identical rule.
    """
    sa = sigs.select(
        F.col(id_col).alias("doc_a"), *[F.col(f"sig{i}").alias(f"a{i}") for i in range(N_SIGS)]
    )
    sb = sigs.select(
        F.col(id_col).alias("doc_b"), *[F.col(f"sig{i}").alias(f"b{i}") for i in range(N_SIGS)]
    )
    est = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("int") for i in range(N_SIGS)
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("est_matches", est)
        .filter(F.col("est_matches") >= min_matches)
        .select("doc_a", "doc_b")
    )


def jaccard_py(text_a: str, text_b: str) -> tuple[int, int]:
    """Exact distinct-5-shingle Jaccard spec: (n_inter, jaccard_u)."""
    import math

    def sset(t: str) -> set:
        n = max(len(t) - (SHINGLE - 1), 1)
        return {t[i : i + SHINGLE] for i in range(n)}

    a, b = sset(text_a or ""), sset(text_b or "")
    n_inter = len(a & b)
    union = len(a) + len(b) - n_inter
    return n_inter, int(math.floor(n_inter * 1e6 / union + 0.5))


def exact_jaccard_on_pairs(pairs: DataFrame, docs: DataFrame,
                           text_col: str = "text",
                           id_col: str = "doc_id") -> DataFrame:
    """Exact shingle-set Jaccard per candidate pair via an Arrow vUDF.

    Texts reach the pair via two hash joins (candidates << corpus at scale);
    the set intersection is O(len_a + len_b) per pair inside one Python
    batch — no |pairs| x |shingles/doc| explode-join.
    """
    j = (
        pairs.join(
            docs.select(F.col(id_col).alias("doc_a"), F.col(text_col).alias("_ta")),
            "doc_a",
        )
        .join(
            docs.select(F.col(id_col).alias("doc_b"), F.col(text_col).alias("_tb")),
            "doc_b",
        )
    )

    @F.pandas_udf("struct<n_inter:long, jaccard_u:long>")
    def _jac(ta: pd.Series, tb: pd.Series) -> pd.DataFrame:
        rows = [jaccard_py(x, y) for x, y in zip(ta, tb)]
        return pd.DataFrame(rows, columns=["n_inter", "jaccard_u"])

    return (
        j.withColumn("_j", _jac(F.col("_ta"), F.col("_tb")))
        .select("doc_a", "doc_b", F.col("_j.n_inter").alias("n_inter"),
                F.col("_j.jaccard_u").alias("jaccard_u"))
    )


# ---------------------------------------------------------------------------
# Fast exact-verify machinery (r09 optimization — guide §8: decide on small
# proxies, never re-derive heavy per-doc state per pair).
#
# The r08 verify rebuilt both documents' shingle SETS in Python for EVERY
# candidate pair (45.6M pairs x ~2x300 string slices at sf1 = 375+ s); the
# two text joins additionally shipped every text once per pair.  The r09
# path computes each document's sorted distinct-shingle KEY ARRAY exactly
# once (one vectorized pass), materializes the skinny key table to a local
# parquet side file, and verifies pairs with numpy searchsorted intersection
# against a per-worker cache of that table — ids only cross the shuffle.
#
# Exactness: a 5-char shingle whose codepoints are all < 4096 is packed
# 5x12 bits into a 60-bit integer — a BIJECTION (covers ASCII + Vietnamese
# entirely), so key equality IS string equality.  Shorter shingles (doc
# < 5 chars) or exotic codepoints fall back to a 63-bit md5 key with bit 63
# set, disjoint from the packed range; results are oracle-verified at every
# SF.  |A ∩ B| over keys therefore equals the string-set intersection, and
# jaccard_u uses the identical float expression as jaccard_py.
# ---------------------------------------------------------------------------

_SH_PACK_LIMIT = 1 << 12  # codepoints below this pack exactly (5x12=60 bits)


def _fallback_shingle_key(s: str) -> int:
    """63-bit md5 key with bit 63 set — disjoint from packed keys (< 2^60)."""
    import hashlib

    return int.from_bytes(hashlib.md5(s.encode()).digest()[:8], "big") | (1 << 63)


def _doc_shingle_keys(t: str) -> "np.ndarray":  # noqa: F821
    """Sorted distinct int64 shingle keys for one document (spec:
    shingle_set_py — same windows, bijective packing)."""
    import numpy as np

    t = t or ""
    if len(t) < SHINGLE:
        return np.array([_fallback_shingle_key(t)], dtype=np.uint64).view(np.int64)
    try:
        cps = np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32).astype(np.uint64)
    except UnicodeEncodeError:  # lone surrogates: pure-python fallback
        keys = np.fromiter(
            (
                _fallback_shingle_key(t[i : i + SHINGLE])
                for i in range(len(t) - (SHINGLE - 1))
            ),
            dtype=np.uint64,
        )
        return np.unique(keys.view(np.int64))
    w = np.lib.stride_tricks.sliding_window_view(cps, SHINGLE)
    s12 = np.uint64(12)
    if cps.max() < _SH_PACK_LIMIT:
        packed = w[:, 0]
        for j in range(1, SHINGLE):
            packed = (packed << s12) | w[:, j]
        return np.unique(packed.view(np.int64))
    big = (w >= _SH_PACK_LIMIT).any(axis=1)
    wp = w[~big]
    packed = wp[:, 0]
    for j in range(1, SHINGLE):
        packed = (packed << s12) | wp[:, j]
    weird = {t[i : i + SHINGLE] for i in np.nonzero(big)[0]}
    hashed = np.fromiter(
        (_fallback_shingle_key(s) for s in weird), dtype=np.uint64, count=len(weird)
    )
    return np.unique(np.concatenate([packed, hashed]).view(np.int64))


def shingle_keys(docs: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", spread: bool = True) -> DataFrame:
    """(id, keys array<long>) — sorted distinct shingle keys per document,
    one vectorized Arrow pass (same spread rationale as minhash_signatures)."""
    import pyarrow as pa

    id_field = docs.schema[id_col]
    out_schema = f"{id_col} {id_field.dataType.simpleString()}, keys array<bigint>"

    def gen(batches):
        for batch in batches:
            ids = batch.column(0)
            texts = batch.column(1).to_pylist()
            keys = [_doc_shingle_keys(t) for t in texts]
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(keys, type=pa.list_(pa.int64()))],
                [id_col, "keys"],
            )

    narrow = docs.select(id_col, text_col)
    if spread:
        narrow = narrow.repartition(docs.sparkSession.sparkContext.defaultParallelism)
    return narrow.mapInArrow(gen, out_schema)


# side-file slots: one keys parquet dir per operator tag; a new invocation
# releases the previous generation (same contract as _cache.claim)
_KEYS_DIRS: dict[str, str] = {}


def _claim_keys_dir(tag: str) -> str:
    import atexit
    import shutil
    import tempfile

    new = tempfile.mkdtemp(prefix=f"mh_keys_{tag.replace('.', '_')}_")
    old = _KEYS_DIRS.get(tag)
    _KEYS_DIRS[tag] = new
    if old:
        shutil.rmtree(old, ignore_errors=True)
    if not getattr(_claim_keys_dir, "_atexit", False):
        _claim_keys_dir._atexit = True
        atexit.register(
            lambda: [shutil.rmtree(d, ignore_errors=True) for d in _KEYS_DIRS.values()]
        )
    return new


# ---------------------------------------------------------------------------
# Native merge-intersect kernel.  Per-pair sorted-array intersection in
# numpy costs ~12 us/pair of pure API overhead (measured r09: ~15 numpy
# calls per ~200-element pair); a two-pointer merge in C is ~0.3 us/pair.
# Compiled once per process with the system cc; _intersect_counts falls
# back to the numpy loop when no compiler is available.
# ---------------------------------------------------------------------------

_ISECT_C_SRC = r"""
#include <stdint.h>
void intersect_counts(const int64_t *flat, const int64_t *offs,
                      const int64_t *ia, const int64_t *ib,
                      int64_t n, int64_t *ni_out) {
    for (int64_t p = 0; p < n; p++) {
        /* row segments exclude the trailing sentinel slot */
        int64_t sa = offs[ia[p]], ea = offs[ia[p] + 1] - 1;
        int64_t sb = offs[ib[p]], eb = offs[ib[p] + 1] - 1;
        int64_t ni = 0;
        while (sa < ea && sb < eb) {
            int64_t va = flat[sa], vb = flat[sb];
            if (va < vb) sa++;
            else if (vb < va) sb++;
            else { ni++; sa++; sb++; }
        }
        ni_out[p] = ni;
    }
}
"""

_ISECT_KERNEL = []  # memo: [] = not tried, [None] = unavailable, [fn] = ready


def _native_intersect_kernel():
    """ctypes handle to the compiled kernel, or None (then numpy fallback)."""
    if _ISECT_KERNEL:
        return _ISECT_KERNEL[0]
    import ctypes
    import hashlib
    import os
    import subprocess
    import tempfile

    fn = None
    try:
        tag = hashlib.md5(_ISECT_C_SRC.encode()).hexdigest()[:12]
        so_path = os.path.join(tempfile.gettempdir(), f"mh_isect_{tag}.so")
        if not os.path.exists(so_path):
            with tempfile.TemporaryDirectory() as td:
                c_path = os.path.join(td, "isect.c")
                with open(c_path, "w") as f:
                    f.write(_ISECT_C_SRC)
                tmp_so = os.path.join(td, "isect.so")
                subprocess.run(
                    ["cc", "-O2", "-shared", "-fPIC", "-o", tmp_so, c_path],
                    check=True, capture_output=True,
                )
                os.replace(tmp_so, so_path)  # atomic vs concurrent workers
        lib = ctypes.CDLL(so_path)
        p = ctypes.POINTER(ctypes.c_int64)
        lib.intersect_counts.argtypes = [p, p, p, p, ctypes.c_int64, p]
        lib.intersect_counts.restype = None
        fn = lib.intersect_counts
    except Exception:
        fn = None
    _ISECT_KERNEL.append(fn)
    return fn


def _intersect_counts(flat, offs, ia, ib) -> "np.ndarray":  # noqa: F821
    """|A_i ∩ B_i| for row-index arrays ia/ib over the sentinel-augmented
    (flat, offs) key table; exact sorted-merge semantics either path."""
    import ctypes
    import numpy as np

    n = len(ia)
    ni = np.empty(n, dtype=np.int64)
    kern = _native_intersect_kernel()
    if kern is not None and n:
        as_p = lambda a: a.ctypes.data_as(ctypes.POINTER(ctypes.c_int64))  # noqa: E731
        kern(as_p(flat), as_p(offs), as_p(ia), as_p(ib), n, as_p(ni))
        return ni
    searchsorted = np.searchsorted
    count_nonzero = np.count_nonzero
    for i in range(n):
        sa, ea = offs[ia[i]], offs[ia[i] + 1] - 1
        sb, eb = offs[ib[i]], offs[ib[i] + 1] - 1
        if ea - sa > eb - sb:
            sa, ea, sb, eb = sb, eb, sa, ea
        A = flat[sa:ea]
        B = flat[sb:eb + 1]  # sentinel included: pos < B.size always
        ni[i] = count_nonzero(B[searchsorted(B, A)] == A)
    return ni


# per-worker cache of loaded key tables, keyed by parquet dir (workers are
# reused across tasks, so each worker loads a side file at most once)
_KEYS_CACHE: dict[str, tuple] = {}


def _flat_sent_from_list(col):
    """(flat, offs) with the same int64-max sentinel layout as
    _load_keys_table, built zero-copy from one Arrow list<int64> column —
    row i occupies [offs[i], offs[i+1]) with the last slot = sentinel."""
    import numpy as np

    raw = col.values.to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
    offs0 = col.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    n = len(offs0) - 1
    offs = offs0 + np.arange(n + 1, dtype=np.int64)
    flat = np.empty(raw.size + n, dtype=np.int64)
    keep = np.ones(flat.size, dtype=bool)
    keep[offs[1:] - 1] = False
    flat[keep] = raw
    flat[offs[1:] - 1] = np.iinfo(np.int64).max
    return flat, offs


def _verify_pairs_join(pairs: DataFrame, keys_back: DataFrame, id_col: str,
                       id_type: str, threshold_u: int) -> DataFrame:
    """Exact Jaccard on candidate pairs by JOINING the sorted key arrays
    onto the pair stream — the selective-corpus twin of
    _verify_pairs_on_keys: identical sorted-merge intersect and identical
    IEEE jaccard math, but only the candidate docs' key arrays ever move,
    and no worker loads the full side table.  Right when the candidate
    stream is small relative to the corpus (see minhash_near_dups); the
    side-file path amortizes better when candidates number in the
    millions."""
    import numpy as np
    import pyarrow as pa

    ka = keys_back.select(F.col(id_col).alias("doc_a"), F.col("keys").alias("_ka"))
    kb = keys_back.select(F.col(id_col).alias("doc_b"), F.col("keys").alias("_kb"))
    j = pairs.join(ka, "doc_a").join(kb, "doc_b").select(
        "doc_a", "doc_b", "_ka", "_kb"
    )

    def fn(batches):
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            fa, oa = _flat_sent_from_list(batch.column("_ka"))
            fb, ob = _flat_sent_from_list(batch.column("_kb"))
            flat = np.concatenate([fa, fb])
            offs = np.concatenate([oa, fa.size + ob])
            ia = np.arange(n, dtype=np.int64)
            ib = np.arange(n + 1, 2 * n + 1, dtype=np.int64)
            ni_out = _intersect_counts(flat, offs, ia, ib)
            n_a = oa[1:] - oa[:-1] - 1
            n_b = ob[1:] - ob[:-1] - 1
            union = n_a + n_b - ni_out
            ju_out = np.floor(ni_out * 1e6 / union + 0.5).astype(np.int64)
            keep_idx = pa.array(np.nonzero(ju_out >= threshold_u)[0])
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("doc_a").take(keep_idx),
                    batch.column("doc_b").take(keep_idx),
                    pa.array(ni_out.take(keep_idx)),
                    pa.array(ju_out.take(keep_idx)),
                ],
                ["doc_a", "doc_b", "n_inter", "jaccard_u"],
            )

    schema = (f"doc_a {id_type}, doc_b {id_type}, "
              "n_inter bigint, jaccard_u bigint")
    return j.mapInArrow(fn, schema)


def _raw_pair_bound(sigs: DataFrame, rows_per_band: int = 2,
                    sigs_b: DataFrame | None = None,
                    id_col: str = "doc_id") -> int:
    """Upper bound on the banded-LSH candidate stream: sum over band-key
    groups of C(k,2) (self-join) or k_a*k_b (cross).  A cheap aggregate on
    the skinny band table of the (cached) signature relation — used to pick
    the verify strategy before anything heavy runs.  Upper bound because
    the est/size filters only shrink the stream, so overestimating errs
    toward the side-file path (the safe error at scale)."""
    ba, cols = _band_table(sigs, id_col, rows_per_band)
    if sigs_b is None:
        row = (
            ba.groupBy(*cols).count()
            .agg(F.sum(F.col("count") * (F.col("count") - 1) / 2).alias("b"))
            .collect()
        )
    else:
        bb, _ = _band_table(sigs_b, id_col, rows_per_band)
        ga = ba.groupBy(*cols).agg(F.count("*").alias("ca"))
        gb = bb.groupBy(*cols).agg(F.count("*").alias("cb"))
        row = (
            ga.join(gb, cols)
            .agg(F.sum(F.col("ca") * F.col("cb")).alias("b"))
            .collect()
        )
    v = row[0][0]
    return int(v) if v is not None else 0


def _load_keys_table(path: str) -> tuple:
    """Load the key side file into (flat, offs, index) where each row's
    segment in ``flat`` is followed by an int64-max sentinel: searchsorted
    against a sentinel-terminated sorted array never returns an
    out-of-range position, so the verify kernel needs no bounds mask."""
    import numpy as np
    import pyarrow.parquet as pq

    cached = _KEYS_CACHE.get(path)
    if cached is not None:
        return cached
    tbl = pq.read_table(path)
    ids = tbl.column(0).to_pylist()
    kcol = tbl.column("keys").combine_chunks()
    raw = kcol.values.to_numpy(zero_copy_only=False)
    offs0 = kcol.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    n = len(offs0) - 1
    # sentinel-augmented flat: row i occupies [offs[i], offs[i+1]) with the
    # last slot = int64 max (never a real key: packed < 2^60, hashed < 0)
    offs = offs0 + np.arange(n + 1, dtype=np.int64)
    flat = np.empty(raw.size + n, dtype=np.int64)
    keep = np.ones(flat.size, dtype=bool)
    keep[offs[1:] - 1] = False
    flat[keep] = raw
    flat[offs[1:] - 1] = np.iinfo(np.int64).max
    # id -> row lookup: vectorized searchsorted map for integer ids,
    # python dict otherwise
    if ids and all(isinstance(d, int) for d in ids[:8]):
        id_arr = np.asarray(ids, dtype=np.int64)
        order = np.argsort(id_arr, kind="stable")
        lookup = ("num", id_arr[order], order)
    else:
        lookup = ("dict", {d: i for i, d in enumerate(ids)}, None)
    loaded = (flat, offs, lookup)
    while len(_KEYS_CACHE) >= 2:  # bound worker memory to two generations
        _KEYS_CACHE.pop(next(iter(_KEYS_CACHE)))
    _KEYS_CACHE[path] = loaded
    return loaded


def _verify_pairs_on_keys(pairs: DataFrame, keys_dir: str, id_type: str,
                          threshold_u: int, spread: bool = True) -> DataFrame:
    """Exact Jaccard on candidate pairs from the materialized key table:
    numpy sorted-array intersection, emitting only >= threshold rows."""

    def fn(batches):
        import numpy as np
        import pyarrow as pa

        flat, offs, lookup = _load_keys_table(keys_dir)

        def rows_of(col) -> "np.ndarray":
            kind, a, b = lookup
            if kind == "num":
                return b[np.searchsorted(a, col.to_numpy(zero_copy_only=False))]
            return np.fromiter(
                (a[d] for d in col.to_pylist()), dtype=np.int64, count=len(col)
            )

        for batch in batches:
            ia = rows_of(batch.column("doc_a"))
            ib = rows_of(batch.column("doc_b"))
            ni_out = _intersect_counts(flat, offs, ia, ib)
            n_a = offs[ia + 1] - offs[ia] - 1
            n_b = offs[ib + 1] - offs[ib] - 1
            union = n_a + n_b - ni_out
            ju_out = np.floor(ni_out * 1e6 / union + 0.5).astype(np.int64)
            keep = ju_out >= threshold_u
            keep_idx = pa.array(np.nonzero(keep)[0])
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("doc_a").take(keep_idx),
                    batch.column("doc_b").take(keep_idx),
                    pa.array(ni_out[keep]),
                    pa.array(ju_out[keep]),
                ],
                ["doc_a", "doc_b", "n_inter", "jaccard_u"],
            )

    schema = (f"doc_a {id_type}, doc_b {id_type}, "
              "n_inter bigint, jaccard_u bigint")
    if spread:
        # AQE coalesces a shuffled input to ~advisory-sized partitions (a
        # handful of tasks for tens of millions of id pairs) — spread the
        # skinny pair list back to full parallelism before the Python stage
        pairs = pairs.repartition(
            pairs.sparkSession.sparkContext.defaultParallelism
        )
    return pairs.mapInArrow(fn, schema)


def _size_bound_ok(threshold_u: int):
    """Exact upper-bound filter: jaccard_u <= floor(min*1e6/max + 0.5)
    (n_inter <= min size, union >= max size; floor/division in the same
    IEEE-double semantics as jaccard_py), so dropping pairs whose bound is
    below threshold never removes an output row."""
    mn = F.least(F.col("_nsh_a"), F.col("_nsh_b")).cast("double")
    mx = F.greatest(F.col("_nsh_a"), F.col("_nsh_b")).cast("double")
    return F.floor(mn * F.lit(1e6) / mx + F.lit(0.5)) >= F.lit(threshold_u)


# Corpus-size cap for broadcasting the enriched band table (~1.3 KB per doc
# at 4 bands x 8 sigs): 500k docs keeps the build relation ~650 MB, far under
# the 8 GB broadcast cap — beyond it the band join falls back to a
# (scale-safe) shuffle join.
MH_BROADCAST_MAX_DOCS = 500_000

# Verify-strategy breakeven: join-verify ships ~2*bound key arrays once, the
# side file loads n_docs arrays in each of W workers, so join wins while
# bound <~ (W/2)*n_docs; 8 is half that at W=32.
MH_JOIN_VERIFY_RATIO = 8


def _fused_candidate_pairs(sigs: DataFrame, sizes: DataFrame, id_col: str,
                           min_matches: int, threshold_u: int,
                           sigs_b: DataFrame | None = None,
                           sizes_b: DataFrame | None = None,
                           rows_per_band: int = 2,
                           dedup: bool = True,
                           broadcast_bands: bool = True) -> DataFrame:
    """Banded LSH candidates with the estimate prune AND the size bound
    fused into the band join, BEFORE the distinct — per-pair deterministic
    filters commute with distinct, so the result equals
    sig_estimate_prune(lsh_candidate_pairs(sigs)) further filtered by the
    (output-preserving) size bound.  Avoids materializing the full
    candidate set and the two per-pair signature joins of the r08 plan.

    With ``sigs_b``/``sizes_b`` it is the cross (new x old) variant: no
    a<b filter, candidates only ever across the two sides."""
    cross = sigs_b is not None
    if N_SIGS % rows_per_band:
        raise ValueError(f"rows_per_band={rows_per_band} must divide N_SIGS={N_SIGS}")
    n_bands = N_SIGS // rows_per_band

    def full_bands(s: DataFrame, sz: DataFrame, side: str) -> DataFrame:
        # one row per (doc, band) carrying the band key AND the full
        # signature vector + shingle count, so est/size filters run inside
        # the band-join stage with no per-pair joins afterwards
        exploded = s.join(F.broadcast(sz), id_col).select(
            F.col(id_col).alias(f"doc_{side}"),
            *[F.col(f"sig{i}").alias(f"_{side}s{i}") for i in range(N_SIGS)],
            F.col("_nsh").alias(f"_nsh_{side}"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            *[
                                F.col(f"sig{b * rows_per_band + j}").alias(f"v{j}")
                                for j in range(rows_per_band)
                            ],
                        )
                        for b in range(n_bands)
                    ]
                )
            ).alias("bb"),
        )
        return exploded.select(
            f"doc_{side}",
            *[f"_{side}s{i}" for i in range(N_SIGS)],
            f"_nsh_{side}",
            "bb.band",
            *[f"bb.v{j}" for j in range(rows_per_band)],
        )

    ba = full_bands(sigs, sizes, "a")
    bb = full_bands(sigs_b if cross else sigs, sizes_b if cross else sizes, "b")
    vcols = [f"v{j}" for j in range(rows_per_band)]
    est = sum(
        (F.col(f"_as{i}") == F.col(f"_bs{i}")).cast("int") for i in range(N_SIGS)
    )
    # the enriched band table is n_docs x n_bands skinny rows — broadcast one
    # side so neither side shuffles (post-explode size estimates otherwise
    # push the planner to a sort-merge join: 2 Exchanges + Sorts at r09
    # start).  broadcast_bands=False (corpus above the broadcast cap —
    # see MH_BROADCAST_MAX_DOCS) keeps the scale-safe shuffle join.
    joined = ba.join(F.broadcast(bb) if broadcast_bands else bb,
                     ["band", *vcols])
    if not cross:
        joined = joined.filter(F.col("doc_a") < F.col("doc_b"))
    out = (
        joined.filter(est >= min_matches)
        .filter(_size_bound_ok(threshold_u))
        .select("doc_a", "doc_b")
    )
    # deduplicating here costs a full shuffle of the candidate stream; the
    # verify is deterministic per pair, so callers may verify the raw
    # stream in the SAME stage and distinct the (tiny) thresholded output
    # instead — identical result set
    return out.distinct() if dedup else out


def _verify_plan(sigs: DataFrame, sigs_b: DataFrame | None, docs: DataFrame,
                 text_col: str, id_col: str, threshold_u: int, slot: str):
    """Pick the exact-Jaccard verify strategy for a (cached) signature table
    (``sigs_b``: the old side of a cross run) and produce its shingle-key
    table.  Selective candidate streams join the key arrays onto the pairs;
    dense ones amortize the per-worker side-file load.  The pick needs only
    the sigs, so it runs BEFORE the key table is produced and the selective
    path never writes the side file.  Returns (per-doc shingle counts,
    verify(pairs), n_docs)."""
    from . import _cache

    id_type = sigs.schema[id_col].dataType.simpleString()
    bound = _raw_pair_bound(sigs, sigs_b=sigs_b, id_col=id_col)
    n_docs = sigs.count()  # cached by the bound probe — no recompute
    if sigs_b is not None:
        n_docs += sigs_b.count()
    if bound <= MH_JOIN_VERIFY_RATIO * max(n_docs, 1):
        keys_back = _cache.claim(
            f"{slot}.keys_df", shingle_keys(docs, text_col, id_col)
        )
        verify = lambda pairs: _verify_pairs_join(  # noqa: E731
            pairs, keys_back, id_col, id_type, threshold_u
        )
    else:
        keys_dir = _claim_keys_dir(f"{slot}.keys")
        shingle_keys(docs, text_col, id_col).write.parquet(keys_dir, mode="overwrite")
        keys_back = docs.sparkSession.read.parquet(keys_dir)
        verify = lambda pairs: _verify_pairs_on_keys(  # noqa: E731
            pairs, keys_dir, id_type, threshold_u, spread=False
        )
    sizes = keys_back.select(id_col, F.size("keys").cast("long").alias("_nsh"))
    return sizes, verify, n_docs


def minhash_near_dups(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", threshold_u: int = 500_000,
                      min_sig_matches: int = 3) -> DataFrame:
    """Full pipeline: vUDF signatures -> banded LSH with fused estimate
    prune + exact size bound -> numpy sorted-key exact-Jaccard verify ->
    threshold filter.  Result-identical to the staged r08 plan (banded LSH
    -> distinct -> estimate prune -> per-pair text-join verify); see the
    fast-verify block comment above for the exactness argument.

    The signature table is persisted (named slot: a repeat invocation
    releases the previous generation); the shingle-key table is
    materialized once to a parquet side file.

    The exact verify picks its strategy from a cheap candidate-stream
    upper bound (sum of C(k,2) over band-key groups on the cached sigs):
    a SELECTIVE corpus (few candidates — e.g. low vocabulary overlap)
    joins the key arrays onto the pair stream, moving only the candidate
    docs' keys; a DENSE candidate stream (millions of pairs) uses the
    side-file path, where each reused worker loads the key table once and
    pairs shuffle ids only (see MH_JOIN_VERIFY_RATIO for the breakeven).
    Both paths run the identical sorted-merge intersect and IEEE jaccard
    math, so the result is bit-identical (equality pytest pins it).
    """
    from . import _cache

    sigs = _cache.claim("minhash_near_dups.sigs", minhash_signatures(docs, text_col, id_col))
    sizes, verify, n_docs = _verify_plan(
        sigs, None, docs, text_col, id_col, threshold_u, "minhash_near_dups"
    )
    # dedup=False: the candidate stream is verified in the SAME stage as the
    # band join (no candidate-set shuffle at all); the verify is
    # deterministic per pair, so distinct-after-verify on the tiny
    # thresholded output is identical to distinct-before-verify
    pairs = _fused_candidate_pairs(
        sigs, sizes, id_col, min_sig_matches, threshold_u, dedup=False,
        broadcast_bands=n_docs <= MH_BROADCAST_MAX_DOCS,
    )
    jac = verify(pairs)
    return jac.filter(F.col("jaccard_u") >= threshold_u).distinct()


def connected_components(edges: DataFrame, max_iter: int = 25,
                         rounds_out: list | None = None) -> DataFrame:
    """Connected components over an undirected edge list (doc_a, doc_b) by
    min-label propagation with pointer doubling — the fuzzy-dedup CLUSTERING
    step: near-dup pairs become groups, and the group representative is the
    minimum member id.

    Returns (id, component_id) for every node appearing in an edge.

    Iterative join-based propagation, the idiomatic Spark shape: each round
    every node takes

        min(own label, neighbors' labels, label OF its own label)

    The third term is the pointer-doubling shortcut (the label-contraction
    step of Kiveris et al.'s large-star/small-star family): a node whose
    label is k rounds stale jumps straight to k-fresh information, so the
    longest label chain HALVES each round and convergence is O(log
    diameter) rounds instead of O(diameter) — a planted path graph of 300
    nodes converges in ~9 rounds, not 300 (tests/test_dedup_similarity.py).
    Every label is always the id of some node in the same component (labels
    only ever flow along edges), so the shortcut join hits and the fixpoint
    is unchanged: no-change under shortcutted propagation implies no-change
    under plain propagation, whose unique fixpoint is the component min.

    Convergence is detected by a change-count (one 1-row collect per round).
    Each round's labels are persisted and the previous generation released;
    ``localCheckpoint`` truncates the logical plan so the lineage does not
    grow with iterations (on a cluster with an HDFS checkpoint dir,
    ``checkpoint`` is the fault-tolerant swap-in).  The symmetrized edge
    list is checkpointed ONCE before the loop — it is read by every round's
    join, and without materialization the upstream pair-generation plan
    (e.g. minhash_near_dups' exact-Jaccard verify) would re-execute each
    round.  Deterministic — min is order-insensitive — so the DuckDB twin
    is a recursive CTE computing the min reachable id per node.

    ``rounds_out``: optional list; the number of propagation rounds is
    appended (bench/tests instrumentation).
    """
    sym = edges.select("doc_a", "doc_b").unionByName(
        edges.select(
            F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
        )
    ).localCheckpoint()
    try:
        labels = (
            sym.select(F.col("doc_a").alias("id")).distinct()
            .withColumn("lab", F.col("id"))
            .localCheckpoint()
        )
        for rounds in range(1, max_iter + 1):
            nbr = (
                sym.join(
                    labels.select(F.col("id").alias("doc_b"), "lab"), "doc_b"
                )
                .groupBy("doc_a")
                .agg(F.min("lab").alias("nlab"))
                .withColumnRenamed("doc_a", "id")
            )
            # pointer doubling: lab(lab(id)) — every lab value is a node id,
            # so the self-join always finds a row (left join is belt-and-
            # braces for the init round).
            hop = labels.select(
                F.col("id").alias("lab"), F.col("lab").alias("lab2")
            )
            new = (
                labels.join(nbr, "id", "left")
                .join(hop, "lab", "left")
                .select(
                    "id",
                    F.least(
                        F.col("lab"),
                        F.coalesce("nlab", "lab"),
                        F.coalesce("lab2", "lab"),
                    ).alias("new_lab"),
                    F.col("lab").alias("_old"),
                )
                .select(
                    "id",
                    F.col("new_lab").alias("lab"),
                    (F.col("new_lab") < F.col("_old")).cast("int").alias("_chg"),
                )
            )
            new = new.localCheckpoint()
            changed = new.agg(F.sum("_chg")).collect()[0][0] or 0
            new = new.drop("_chg")
            labels.unpersist()
            labels = new
            if changed == 0:
                if rounds_out is not None:
                    rounds_out.append(rounds)
                return labels.select("id", F.col("lab").alias("component_id"))
        raise ValueError(f"connected_components did not converge in {max_iter} rounds")
    finally:
        sym.unpersist()


# ---------------------------------------------------------------------------
# SimHash (vectorized UDF; exact ANSI-SQL twin in queries.py — md5 halves,
# 64 signed-majority bit sums, band keys rebuilt from sign bits)
# ---------------------------------------------------------------------------


def simhash_py(text: str) -> int:
    """64-bit SimHash over whitespace tokens, md5-derived token hashes."""
    import hashlib

    acc = [0] * 64
    for tok in text.split():
        h = int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "big")
        for b in range(64):
            acc[b] += 1 if (h >> b) & 1 else -1
    out = 0
    for b in range(64):
        if acc[b] > 0:
            out |= 1 << b
    return out - (1 << 64) if out >= (1 << 63) else out


def _simhash_batch(texts) -> "np.ndarray":  # noqa: F821
    """numpy-batched simhash_py: md5 only per *unique* token in the batch,
    bit unpack + ±1 accumulation fully vectorized (no per-bit Python loop).
    """
    import hashlib

    import numpy as np

    tok_lists = [(t or "").split() for t in texts]
    counts = np.array([len(x) for x in tok_lists], dtype=np.int64)
    total = int(counts.sum())
    out = np.zeros(len(texts), dtype=np.int64)
    if total == 0:
        return out

    # md5 once per *distinct* token (dict cache — vocab repeats heavily)
    cache: dict[str, int] = {}

    def h_of(tok: str) -> int:
        v = cache.get(tok)
        if v is None:
            v = int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "big")
            cache[tok] = v
        return v

    hs = np.fromiter(
        (h_of(t) for lst in tok_lists for t in lst), dtype=np.uint64, count=total
    ).astype("<u8", copy=False)  # pin little-endian for the byte view below
    # bit-unpack: little-endian byte view + bitorder='little' puts bit b of
    # the uint64 at column b — no 64-iteration Python loop, no (T,64) uint64
    bits = np.unpackbits(
        hs.view(np.uint8).reshape(total, 8), axis=1, bitorder="little"
    ).astype(np.int32)  # (T, 64) in {0,1}
    starts = np.zeros(len(texts), dtype=np.int64)
    np.cumsum(counts[:-1], out=starts[1:])
    nonempty = counts > 0
    # reduceat misreads zero-length segments; accumulate only non-empty docs
    # (starts of consecutive non-empty docs are the true segment bounds —
    # empty docs contribute zero tokens between them)
    ones = np.add.reduceat(bits, starts[nonempty], axis=0)  # (D', 64)
    # acc = (+1 per one-bit, -1 per zero-bit) = 2*ones - n_tokens; acc > 0
    sign_bits = (2 * ones > counts[nonempty, None]).astype(np.uint64)
    shifts = np.arange(64, dtype=np.uint64)
    packed = (sign_bits << shifts[None, :]).sum(axis=1, dtype=np.uint64)
    out[nonempty] = packed.view(np.int64)
    return out


def simhash_col(text_col: str = "text"):
    """Arrow-batched SimHash (vectorized pandas_udf; spec = simhash_py)."""

    @F.pandas_udf("long")
    def _simhash(s: pd.Series) -> pd.Series:
        return pd.Series(_simhash_batch(s.tolist()))

    return _simhash(F.col(text_col))


def simhash_near_dups(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", max_hamming: int = 8) -> DataFrame:
    """SimHash near-dups: band the 64-bit hash into 4x16-bit keys; a pair
    within hamming<=max_hamming shares at least one exact band w.h.p.

    The hash pass is spread to default parallelism first (same single-split
    input trap as minhash_signatures)."""
    spread = docs.select(id_col, F.col(text_col)).repartition(
        docs.sparkSession.sparkContext.defaultParallelism
    )
    # persisted (named slot — re-invocation releases the old generation):
    # the band self-join reads the hash table twice; without it the hash
    # vUDF re-executes per side (n_docs x 16 bytes — tiny)
    from . import _cache

    withsh = _cache.claim(
        "simhash_near_dups.hashes",
        spread.select(id_col, simhash_col(text_col).alias("simhash")),
    )
    bands = withsh.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned("simhash", 16 * i)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("bkey"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "simhash", "bb.band", "bb.bkey")
    a, b = bands.alias("a"), bands.alias("b")
    # hamming is deterministic per pair, so filtering BEFORE the distinct is
    # result-identical and shrinks the distinct's shuffle to the (tiny)
    # within-radius pair set instead of every band collision (r09)
    pairs = (
        a.join(b, ["band", "bkey"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return pairs


# ---------------------------------------------------------------------------
# C4-style line-level dedup (reference has no line ops; this is the
# training-pipeline extension — Raffel et al. 2020 §2.2's occurring-span
# dedup at line granularity)
# ---------------------------------------------------------------------------


def line_dedup_docs(docs: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """C4-style corpus-wide line dedup: split each document on '\\n'; every
    duplicated line survives only at its FIRST (doc_id, idx) occurrence.

    Returns (doc_id, n_kept, n_dropped, clean_hash) where clean_hash is the
    md5 of the reassembled surviving text.

    Scale shape: ONE window partitioned by the line — group size is that
    line's duplication count, bounded by corpus duplication, never corpus
    size — plus one hash aggregate to reassemble.  The window keys on the
    raw line, which keeps the DuckDB oracle twin collision-proof by
    construction.
    """
    lines = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("idx", "line"),
    )
    w = Window.partitionBy(F.col("line")).orderBy("doc_id", "idx")
    flagged = lines.withColumn(
        "keep", (F.row_number().over(w) == 1).cast("int")
    )
    return flagged.groupBy("doc_id").agg(
        F.sum("keep").cast("long").alias("n_kept"),
        (F.count("*") - F.sum("keep")).cast("long").alias("n_dropped"),
        F.md5(
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("keep") == 1, F.struct("idx", "line"))
                        )
                    ),
                    lambda s: s["line"],
                ),
            )
        ).alias("clean_hash"),
    )

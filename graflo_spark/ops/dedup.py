"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Scale design notes:
    - exact dedup is one hash aggregate on the key (AQE handles skew);
    - MinHash/LSH never compares all pairs: signatures are per-row map work
      (one Arrow-batched pass — see :func:`minhash_signatures`), candidate
      generation is an equi-join on (band, band_hash) — the classic
      shuffle-bounded LSH;
    - n-gram Jaccard uses blocking keys to bound the self-join;
    - the per-row paths are native Column expressions or vectorized Arrow
      batches — never row-at-a-time Python;
    - every content hash is the package's md5 family (``ops/util.md5_bits``),
      so a SQL oracle reproduces signatures, bands and line/gram keys.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from graflo_spark.ops.util import (
    Checkpointer,
    ensure_min_parallelism,
    md5_bits,
    py_md5_bits,
)


def exact_dedup(df: DataFrame, cols: list[str], id_col: str,
                with_counts: bool = False) -> DataFrame:
    """Representative row per duplicate group: keeps min(id) (deterministic).
    ``with_counts`` adds the group size as ``n_members``."""
    aggs = [F.min(id_col).alias(id_col)]
    if with_counts:
        aggs.append(F.count(F.lit(1)).alias("n_members"))
    return df.groupBy(*cols).agg(*aggs)


def exact_dedup_keep_rows(df: DataFrame, cols: list[str], id_col: str) -> DataFrame:
    """Full rows of the kept representatives."""
    reps = exact_dedup(df, cols, id_col).select(id_col)
    return df.join(reps, id_col, "left_semi")


def char_shingles(text: Column, k: int = 5) -> Column:
    """Sliding character k-shingles as an array (JVM-side, no UDF)."""
    n = F.greatest(F.length(text) - F.lit(k - 1), F.lit(1))
    return F.transform(
        F.sequence(F.lit(1), n), lambda i: F.substring(text, i, k)
    )


def word_ngrams(text: Column, n: int = 3) -> Column:
    tokens = F.split(F.trim(text), r"\s+")
    cnt = F.greatest(F.size(tokens) - F.lit(n - 1), F.lit(1))
    return F.transform(
        F.sequence(F.lit(1), cnt),
        lambda i: F.array_join(F.slice(tokens, i, n), " "),
    )


_MERSENNE_31 = (1 << 31) - 1


def _perm_coeffs(num_perm: int) -> list[tuple[int, int]]:
    """Deterministic affine-permutation coefficients (a*h+b) mod p.

    Derived from a fixed seed so signatures are stable across runs/retries
    (speculative-execution safe)."""
    import random

    rnd = random.Random(0x5EED)
    return [
        (rnd.randrange(1, _MERSENNE_31), rnd.randrange(0, _MERSENNE_31))
        for _ in range(num_perm)
    ]


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 5,
    num_perm: int = 64,
    unique_ids: bool = False,
) -> DataFrame:
    """``(id, sig: array<long>)`` MinHash signatures, computed in one
    Arrow-batched map pass and bit-identical to the expression chain
    explode -> md5 -> conv -> ``num_perm`` min-aggregates (pinned by
    test_minhash_portable_arrow_matches_expression_chain; the chain costs
    ~2.5x the vectorized pass, r14: 1.7 s -> 0.7 s at sf0.1):

    - shingles: ``text[i:i+k]`` for i in range(max(len-k+1, 1)) — Python
      slicing by code points matches Spark ``substring`` semantics
      including the short-text case (one shingle = the whole text);
    - hash: ``md5_bits(shingle, 8)`` masked to 31 bits — a SQL oracle
      reproduces it (DuckDB ``('0x'||substr(md5(s),1,8))::BIGINT``);
    - permutations: ``(a*h + b) % M31`` in int64 (a, h < 2^31 so the
      product fits), min per permutation — exact integer arithmetic.

    Rows with NULL text produce an ALL-NULL signature, matching the
    expression chain (``greatest(length(NULL)-k+1, 1)`` is 1 — greatest
    skips NULLs — so it emits one NULL shingle whose NULL hash makes every
    min-aggregate NULL). Duplicate ids are merged by ELEMENTWISE min — min
    over the union of two docs' shingle sets equals the elementwise min
    of their signatures, and SQL min skips NULLs on both sides — so the
    merge ships one 64-wide row per doc.

    ``unique_ids``: promise that ``id_col`` is unique (e.g. the input is
    the exact-collapse representative frame, min-id per distinct text).
    The duplicate-id merge aggregate is then the identity — min over one
    row per permutation — and is skipped: one full shuffle (and a 32-task
    stage per call at local defaults) less.
    """
    sig_of = _md5_sig_udf(shingle_k, num_perm)
    per_row = ensure_min_parallelism(df).select(
        F.col(id_col).alias("id"), sig_of(F.col(text_col)).alias("sig"))
    if unique_ids:
        # one row per id by caller contract: the merge aggregate below is
        # the identity (elementwise min over a single row) — skip its
        # shuffle outright (r14, guide §2.4 "a distinct on data that is
        # already unique")
        return per_row
    return per_row.groupBy("id").agg(
        F.array(*[
            F.min(F.element_at("sig", i + 1)) for i in range(num_perm)
        ]).alias("sig"))


def _md5_sig_udf(shingle_k: int, num_perm: int):
    """The Arrow-batched md5 signature UDF (see
    :func:`minhash_signatures` for the bit-identity proof)."""
    import numpy as np

    coeffs = _perm_coeffs(num_perm)
    a_col = np.array([a for a, _ in coeffs], dtype=np.int64).reshape(-1, 1)
    b_col = np.array([b for _, b in coeffs], dtype=np.int64).reshape(-1, 1)
    null_sig = [None] * num_perm

    @F.pandas_udf("array<long>")
    def sig_of(text: pd.Series) -> pd.Series:
        out = []
        for t in text:
            if t is None:
                out.append(null_sig)
                continue
            n = max(len(t) - (shingle_k - 1), 1)
            hs = np.fromiter(
                (py_md5_bits(t[i:i + shingle_k], 8) & _MERSENNE_31
                 for i in range(n)),
                dtype=np.int64, count=n)
            out.append(((a_col * hs[None, :] + b_col) % _MERSENNE_31)
                       .min(axis=1))
        return pd.Series(out)

    return sig_of


def _rep_signatures(
    nonnull: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 5,
    num_perm: int = 64,
) -> DataFrame:
    """``(id, sig)`` — one row per DISTINCT text with its min-id
    representative: the exact-collapse + signature composition every
    dedup entry point runs.

    The signature is computed BEFORE the collapse (r15, guide §2.3
    "shuffle keys and metadata instead of payloads" / §8): a
    collapse-first order shuffled the full text body twice — once inside
    the collapse (whose ``first(text)`` aggregate existed ONLY to feed the
    signature UDF, and whose var-width buffer forced a SortAggregate) and
    once in the parallelism-floor repartition ahead of the UDF. Computing
    the per-row signature on scan partitions first, the collapse groups
    by ``(sha256 digest, sig)`` — ~550 narrow bytes per row — with a
    fixed-width ``min(id)`` buffer (HashAggregate, map-side partials).
    Texts within a digest group are identical up to a ~2^-128 collision
    (accepted; same tradeoff as content-addressed storage), identical
    texts hash to identical signatures, and the group's min id is the
    representative. The extra cost is one signature per DUPLICATE row
    (instead of per distinct text) — bounded by the duplicate fraction —
    against a full-corpus payload shuffle saved."""
    sig_of = _md5_sig_udf(shingle_k, num_perm)
    per_row = ensure_min_parallelism(nonnull).select(
        F.sha2(F.col(text_col), 256).alias("__td"),
        F.col(id_col).alias("id"),
        sig_of(F.col(text_col)).alias("sig"),
    )
    return (
        per_row.groupBy("__td", "sig")
        .agg(F.min("id").alias("id"))
        .select("id", "sig")
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 5,
    num_perm: int = 64,
    bands: int = 16,
    unique_ids: bool = False,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash-LSH.

    Returns ``(id_a, id_b, est_jaccard)`` with id_a < id_b; est_jaccard is
    the signature agreement ratio. Verify candidates with
    :func:`ngram_jaccard_pairs` when exactness matters.
    """
    cand, _sig = _lsh_candidates_with_sigs(
        df, id_col, text_col, shingle_k, num_perm, bands,
        unique_ids=unique_ids)
    return cand


def _lsh_candidates_with_sigs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 5,
    num_perm: int = 64,
    bands: int = 16,
    unique_ids: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """(candidate pairs, the checkpointed ``(id, sig)`` table they were
    built from). The sig table has exactly one row per input doc — callers
    that need the input ID SET (e.g. the survivor base in
    :func:`minhash_dedup`) read it off the already-materialized blocks
    instead of re-deriving it with another scan + digest shuffle (r14)."""
    # The sig table feeds three consumers (band explode + two hydration
    # joins); Catalyst does not reuse the aggregate subtree across them, so
    # without materializing it the shingle explosion runs 3x. One row per
    # doc makes this the natural materialization point at any scale; a
    # lazy local checkpoint owned by this call (ops/util.py Checkpointer).
    sig = minhash_signatures(
        df, id_col, text_col, shingle_k, num_perm,
        unique_ids=unique_ids).localCheckpoint(eager=False)
    return _candidates_from_sigs(sig, num_perm, bands), sig


def _rep_candidates_with_sigs(
    nonnull: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 5,
    num_perm: int = 64,
    bands: int = 16,
) -> tuple[DataFrame, DataFrame]:
    """The exact-collapse dedup entry shape: candidate pairs + the
    checkpointed ``(id, sig)`` table over the min-id representative of
    each distinct non-null text (:func:`_rep_signatures` — sig-first, so
    no shuffle carries the text payload)."""
    sig = _rep_signatures(
        nonnull, id_col, text_col, shingle_k, num_perm,
    ).localCheckpoint(eager=False)
    return _candidates_from_sigs(sig, num_perm, bands), sig


def _banded(sig: DataFrame, num_perm: int, bands: int) -> DataFrame:
    """``(id, band, band_hash)`` — one row per (doc, band); the band key
    is the 32-bit md5 of the band's comma-joined values (8-byte shuffle
    key, SQL-reproducible)."""
    rows_per_band = num_perm // bands
    return sig.select(
        "id",
        F.posexplode(
            F.array(
                *[
                    md5_bits(
                        F.array_join(
                            F.transform(
                                F.slice("sig", b * rows_per_band + 1, rows_per_band),
                                lambda x: x.cast("string"),
                            ),
                            ",",
                        ),
                        8,
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "band_hash"),
    ).withColumn("band_hash", F.col("band_hash").cast("long"))


def _sig_agreement(num_perm: int) -> F.Column:
    # NB: a flat 64-term element_at equality sum was tried here and measured
    # ~3x SLOWER than this zip_with at sf0.1 — the wide expression chain
    # defeats codegen; the higher-order function is fine on 64-wide arrays.
    agree = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
            lambda z: z == 1,
        )
    )
    return agree / F.lit(num_perm)


def _candidates_from_sigs(
    sig: DataFrame, num_perm: int, bands: int
) -> DataFrame:
    # Candidate generation carries ONLY ids through the band join and the
    # pair dedup — a pair colliding in m bands would otherwise ship both
    # 64-long signatures m times through two shuffles. Signatures are
    # re-attached afterwards (one join per side on the one-row-per-doc sig
    # table): dedup early, hydrate late.
    banded = _banded(sig, num_perm, bands)
    a = banded.select(F.col("id").alias("id_a"), "band", "band_hash")
    b = banded.select(F.col("id").alias("id_b"), "band", "band_hash")
    pairs = (
        a.join(b, ["band", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates()
    )
    hydrated = pairs.join(
        sig.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a")), "id_a"
    ).join(
        sig.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b")), "id_b"
    )
    return hydrated.select(
        "id_a",
        "id_b",
        _sig_agreement(num_perm).alias("est_jaccard"),
    )


def minhash_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    **lsh_kwargs,
) -> DataFrame:
    """Keep one representative per near-duplicate cluster: drop the larger id
    of every candidate pair above threshold (greedy, single pass — the
    standard large-scale approximation of connected components).

    Exact duplicates are collapsed to their min-id representative BEFORE the
    LSH stage. This is output-identical (identical texts have identical
    signatures, so est_jaccard = 1.0 >= any threshold <= 1 drops every
    non-min member anyway, and greedy decisions between groups depend only
    on each group's min id) but turns the 100 TB boilerplate hazard — a hot
    group of g identical pages colliding in EVERY band for O(g^2) candidate
    pairs — into one aggregate row per distinct text.
    """
    if threshold > 1.0:
        return df  # nothing can reach est_jaccard > 1 — no drops
    # NULL texts are excluded from the collapse: they have no shingles, so
    # the uncollapsed pipeline could never pair them — they all survive.
    # (groupBy would lump every NULL into one group and drop all but one.)
    nonnull = df.filter(F.col(text_col).isNotNull())
    # one row per distinct text with its unique min-id representative;
    # sig-first so no shuffle carries the text
    cand, sig = _rep_candidates_with_sigs(nonnull, id_col, text_col,
                                          **lsh_kwargs)
    drop = (
        cand.filter(F.col("est_jaccard") >= threshold)
        .select(F.col("id_b").alias(id_col))
        .dropDuplicates()
    )
    # the survivor base needs only the rep ID SET — which is exactly the
    # id column of the persisted signature table (one row per rep; reps
    # are non-null texts, so no NULL-signature rows exist). Reading it off
    # the persisted blocks replaces the former digest-keyed min-id
    # re-aggregate: one document scan + sha256 pass + shuffle less per
    # call (r14).
    rep_ids = sig.select(F.col("id").alias(id_col))
    survivors = rep_ids.join(drop, id_col, "left_anti")
    return df.filter(F.col(text_col).isNull()).unionByName(
        df.join(survivors, id_col, "left_semi"))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str],
    ngram_n: int = 3,
    min_jaccard: float = 0.0,
) -> DataFrame:
    """Exact word-n-gram Jaccard over a blocked self-join.

    ``block_cols`` bound the O(n^2): only rows sharing the blocking key are
    compared. Returns (id_a, id_b, jaccard), id_a < id_b.
    """
    base = df.select(
        F.col(id_col).alias("id"),
        *[F.col(c) for c in block_cols],
        F.array_distinct(word_ngrams(F.col(text_col), ngram_n)).alias("grams"),
    )
    a = base.select(
        F.col("id").alias("id_a"), F.col("grams").alias("grams_a"), *block_cols
    )
    b = base.select(
        F.col("id").alias("id_b"), F.col("grams").alias("grams_b"), *block_cols
    )
    pairs = a.join(b, block_cols).filter(F.col("id_a") < F.col("id_b"))
    inter = F.size(F.array_intersect("grams_a", "grams_b"))
    union = F.size(F.array_union("grams_a", "grams_b"))
    jac = (inter.cast("double") / union).alias("jaccard")
    return pairs.select("id_a", "id_b", jac).filter(F.col("jaccard") >= min_jaccard)


def simhash_fingerprints(
    df: DataFrame, id_col: str, text_col: str, bits: int = 32,
) -> DataFrame:
    """``(id, fp)`` SimHash fingerprints: bit b of fp is the sign of
    sum over tokens of (+1 if hash-bit b set else -1), over the 32-bit
    md5 token hash a SQL oracle reproduces exactly (DuckDB
    ``('0x'||substr(md5(t),1,8))::BIGINT``).

    Shape: explode tokens -> one token hash per (doc, token) -> ``bits``
    conditional-sum aggregates -> recombine. Whole-stage codegen throughout
    (a per-row ``F.aggregate`` over the token array is interpreted and walks
    the array once per bit)."""
    tokens = ensure_min_parallelism(df).select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("t"),
    )
    hashed = tokens.select("id", md5_bits("t", 8).alias("h"))
    votes = [
        F.sum(
            F.when(F.col("h").bitwiseAND(F.lit(1 << b).cast("long")) != 0, 1)
            .otherwise(-1)
        ).alias(f"_v{b}")
        for b in range(bits)
    ]
    fp = None
    for b in range(bits):
        term = F.when(F.col(f"_v{b}") > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        fp = term if fp is None else fp + term
    return hashed.groupBy("id").agg(*votes).select("id", fp.alias("fp"))


def simhash_candidates(
    df: DataFrame, id_col: str, text_col: str, bits: int = 32, band_bits: int = 8,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup candidates: split the fingerprint into bands; pairs sharing
    any band are compared by exact Hamming distance (<= max_hamming)."""
    n_bands = bits // band_bits
    fp = simhash_fingerprints(df, id_col, text_col, bits)
    banded = fp.select(
        "id",
        "fp",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("fp", i * band_bits)
                    .bitwiseAND(F.lit((1 << band_bits) - 1))
                    .cast("long")
                    for i in range(n_bands)
                ]
            )
        ).alias("band", "band_val"),
    )
    a = banded.select(F.col("id").alias("id_a"), F.col("fp").alias("fp_a"), "band", "band_val")
    b = banded.select(F.col("id").alias("id_b"), F.col("fp").alias("fp_b"), "band", "band_val")
    pairs = (
        a.join(b, ["band", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return pairs.select("id_a", "id_b", hamming.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


def embedding_near_dup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    n_bands: int = 8,
    band_planes: int = 4,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via banded hyperplane LSH
    (OR-construction): ``n_bands`` independent hash tables of
    ``band_planes`` bits each; a pair is a candidate if it collides in ANY
    band, then exact cosine filters.  For plane-agreement probability
    ``p = 1 - theta/pi`` the candidate probability is
    ``1 - (1 - p^band_planes)^n_bands`` — e.g. cosine 0.9 with 8x4 gives
    ~0.998 recall, where a single 16-bit table gives ~0.17.

    Deterministic hash-derived hyperplanes (no matrix to ship), candidate
    generation is one equi-join on (band, bucket) after a posexplode —
    shuffle-bounded, never all-pairs. Returns (id_a, id_b, cosine).
    """
    from graflo_spark.ops.simsearch import cosine_expr, lsh_band_batch

    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    first = base.select("v").limit(1).collect()
    dim = len(first[0][0]) if first else 0
    # all n_bands bucket ids in ONE Arrow pass (bit-identical twin of the
    # per-band lsh_bucket_expr chain, which evaluated n_bands*band_planes
    # interpreted plane dots per row — see simsearch.lsh_band_batch)
    band_arr = lsh_band_batch(dim, band_planes, n_bands)(
        F.col("v").cast("array<double>"))
    bucketed = base.select(
        "id", "v", F.posexplode(band_arr).alias("band", "bucket")
    )
    a = bucketed.select(
        F.col("id").alias("id_a"), F.col("v").alias("v_a"), "band", "bucket"
    )
    b = bucketed.select(
        F.col("id").alias("id_b"), F.col("v").alias("v_b"), "band", "bucket"
    )
    pairs = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])  # before cosine: score each pair once
    )
    cos = cosine_expr(F.col("v_a"), F.col("v_b"))
    return (
        pairs.select("id_a", "id_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def embedding_near_dup_exact(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
) -> DataFrame:
    """Exact all-pairs embedding near-dup: the correctness baseline / oracle
    twin of :func:`embedding_near_dup`.  O(n^2) — only for validation at
    small SF and recall measurement; the banded LSH is the scale path.
    Vectors are cast to double before the dot product so Spark and a
    DuckDB ``CAST(... AS DOUBLE[])`` oracle agree bit-for-bit.
    """
    from graflo_spark.ops.simsearch import cosine_expr

    base = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    a = base.select(F.col("id").alias("id_a"), F.col("v").alias("v_a"))
    b = base.select(F.col("id").alias("id_b"), F.col("v").alias("v_b"))
    pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    cos = cosine_expr(F.col("v_a"), F.col("v_b"))
    return pairs.select("id_a", "id_b", cos.alias("cosine")).filter(
        F.col("cosine") >= threshold
    )


class MinHashDedupStore:
    """Incremental near-dup dedup against a persisted signature store — the
    shape a 100 TB/day ingest pipeline needs: each incoming batch is deduped
    (a) within itself and (b) against every previously KEPT document, then
    its survivors' signatures are appended to the store. State lives on
    disk, not in executor memory: ``{path}/sigs`` holds one ~0.5 KB row per
    kept doc, ``{path}/bands`` the banded LSH index partitioned by ``band``
    so the probe join prunes files per band. All joins are equi-joins on
    (band, band_hash); no stream-side state grows unboundedly (contrast
    ``dropDuplicatesWithinWatermark``, which bounds state by TIME — this
    bounds nothing but disk and dedups against all history).

    Semantics: within a batch, greedy drop-larger-id (same as
    :func:`minhash_dedup`); across batches, a new doc is dropped iff it
    matches a *surviving representative* of an earlier batch. Chains that
    span batches dedup against the representative, not against already-
    dropped members. Document ids must be globally unique across batches.

    Streaming: wire ``dedup_batch`` into ``foreachBatch`` — replay-safe
    because a re-delivered batch re-matches the same stored signatures and
    the append is keyed by id (re-appended survivors are idempotent for
    matching: duplicate sig rows produce duplicate candidates, dropped by
    the pair dedup).
    """

    def __init__(
        self,
        spark,
        path: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        threshold: float = 0.7,
        shingle_k: int = 5,
        num_perm: int = 64,
        bands: int = 16,
    ):
        self.spark = spark
        self.path = path.rstrip("/")
        self.id_col = id_col
        self.text_col = text_col
        self.threshold = threshold
        self.shingle_k = shingle_k
        self.num_perm = num_perm
        self.bands = bands
        # Per-batch localCheckpoint blocks are tracked across dedup_batch
        # calls so a long-running stream doesn't accumulate one dead block
        # set per micro-batch (the session-accumulation footgun measured
        # in SCALE.md): each slot keeps its last TWO generations, so the
        # survivor frame RETURNED by dedup_batch stays readable through
        # the next dedup_batch call — write or count it within the batch
        # (the foreachBatch contract) rather than holding it across many.
        self._ck = Checkpointer(spark)

    def _stored(self, name: str) -> DataFrame | None:
        import glob
        import os

        d = f"{self.path}/{name}"
        if not os.path.isdir(d):
            # crash recovery: a process death inside compact()'s rename
            # window can leave the data only under .old-{name}-*; restore
            # the newest such dir so no history is silently dropped
            olds = sorted(glob.glob(f"{self.path}/.old-{name}-*"),
                          key=os.path.getmtime)
            if not olds:
                return None
            os.rename(olds[-1], d)
        if not any(fn.endswith(".parquet") or fn.startswith("band=")
                   for fn in os.listdir(d)):
            return None  # e.g. _SUCCESS-only dir from an empty write
        return self.spark.read.parquet(d)

    def compact(self, files_per_band: int = 1) -> None:
        """Rewrite the store consolidated. Every ``dedup_batch`` appends one
        file set per batch, so a long-running stream accumulates thousands
        of small parquet files — the classic streaming small-files problem;
        the probe join then pays per-file open cost instead of scan cost.
        Duplicate rows from replayed batches are also dropped here.

        SINGLE-WRITER op: run it from the same process that runs
        ``dedup_batch`` (foreachBatch is sequential, so between batches is
        safe); an append racing the swap would be deleted with the old
        directory. The swap is staging-write + rename: a raised error rolls
        back in-process, and a hard process death between the two renames
        leaves the data under ``.old-{name}-*``, which ``_stored`` restores
        on the next access — either way no history is silently dropped
        (stale ``.compact-*`` staging dirs may remain to sweep)."""
        import os
        import shutil
        import uuid

        for name, writer in (
            ("sigs", lambda df, p: df.dropDuplicates(["id"]).coalesce(
                max(files_per_band, 1)).write.parquet(p)),
            ("bands", lambda df, p: df.dropDuplicates().repartition(
                self.bands * files_per_band, "band").write.partitionBy(
                "band").parquet(p)),
        ):
            cur = self._stored(name)
            if cur is None:
                continue
            staging = f"{self.path}/.compact-{name}-{uuid.uuid4().hex}"
            writer(cur, staging)
            final = f"{self.path}/{name}"
            old = f"{self.path}/.old-{name}-{uuid.uuid4().hex}"
            os.rename(final, old)
            try:
                os.rename(staging, final)
            except OSError:
                os.rename(old, final)  # roll back; staging left for sweep
                raise
            shutil.rmtree(old, ignore_errors=True)

    def dedup_batch(self, df: DataFrame) -> DataFrame:
        """Returns the batch rows that survive dedup (within-batch AND
        vs-store), after appending their signatures to the store.

        LIFETIME of the returned frame: its checkpoint blocks stay alive
        through the NEXT ``dedup_batch`` call and are reclaimed after that
        (two-generation window) — consume it within the batch (write or
        count it, the foreachBatch contract); to keep it longer, write it.

        NULL-text rows have no shingles and can never match anything: they
        pass through as survivors and are not stored."""
        # collapse exact duplicates to their min-id representative first —
        # output-identical (see minhash_dedup) and immune to hot boilerplate
        # groups exploding the within-batch band join; sig-first (no
        # shuffle carries the text — _rep_signatures)
        sig = self._ck(_rep_signatures(
            df.filter(F.col(self.text_col).isNotNull()),
            self.id_col, self.text_col, self.shingle_k, self.num_perm,
        ), "sig")

        # (a) within-batch: greedy drop-larger-id over verified candidates
        cand = _candidates_from_sigs(sig, self.num_perm, self.bands)
        drop_within = (
            cand.filter(F.col("est_jaccard") >= self.threshold)
            .select(F.col("id_b").alias("id"))
            .dropDuplicates()
        )
        kept = sig.join(drop_within, "id", "left_anti")

        # (b) vs-store: probe the persisted banded index with the batch's
        # surviving band rows; verify against stored signatures.
        # `old_id != id` excludes self-matches: a REPLAYED batch (stream
        # recovery after the store append committed but the downstream
        # output write didn't) re-sees its own stored signatures; without
        # the filter every replayed survivor self-matches at est 1.0 and
        # the batch's survivors would be silently lost from the output.
        # With it, replay re-emits the same survivors (at-least-once).
        stored_bands = self._stored("bands")
        stored_sigs = self._stored("sigs")
        if stored_bands is not None and stored_sigs is not None:
            new_banded = _banded(kept, self.num_perm, self.bands)
            probe = (
                new_banded.join(
                    stored_bands.select(
                        F.col("id").alias("old_id"), "band", "band_hash"),
                    ["band", "band_hash"],
                )
                .filter(F.col("old_id") != F.col("id"))
                .select(F.col("id"), F.col("old_id"))
                .dropDuplicates()
            )
            hyd = probe.join(
                kept.select("id", F.col("sig").alias("sig_a")), "id"
            ).join(
                stored_sigs.select(
                    F.col("id").alias("old_id"), F.col("sig").alias("sig_b")),
                "old_id",
            )
            drop_vs_store = (
                hyd.select(
                    "id", _sig_agreement(self.num_perm).alias("est_jaccard"))
                .filter(F.col("est_jaccard") >= self.threshold)
                .select("id")
                .dropDuplicates()
            )
            kept = kept.join(drop_vs_store, "id", "left_anti")

        # materialize survivors BEFORE appending (the append invalidates
        # nothing here, but a lazy `kept` would re-read the store after the
        # write and see the batch's own rows)
        kept = self._ck(kept, "kept")
        # replay hygiene: ids already in the store (a re-delivered batch)
        # are not appended again, so replays don't grow the store
        to_store = kept
        if stored_sigs is not None:
            to_store = kept.join(
                stored_sigs.select("id"), "id", "left_anti"
            )
            to_store = self._ck(to_store, "to_store")
        # Append ORDER matters: bands first, sigs second, because the
        # replay guard above keys on sigs. A crash between the two appends
        # then re-appends BOTH on replay (duplicate band rows are dedup-safe
        # and compacted away); the reverse order would lose the band rows
        # forever, making those docs invisible to every future probe.
        # An all-NULL-text batch has nothing to store — and an empty
        # partitionBy write would create a schema-less directory that
        # poisons every later read.
        if to_store.limit(1).count() > 0:
            _banded(
                to_store, self.num_perm, self.bands
            ).write.mode("append").partitionBy("band").parquet(
                f"{self.path}/bands")
            to_store.write.mode("append").parquet(f"{self.path}/sigs")

        out = df.join(
            kept.select(F.col("id").alias(self.id_col)), self.id_col,
            "left_semi")
        out = df.filter(F.col(self.text_col).isNull()).unionByName(out)
        # checkpoint the RESULT too: it references this batch's `kept`
        # blocks, and tracking it (rather than returning it lazy) is what
        # lets the NEXT batch reclaim this batch's intermediates safely
        return self._ck(out, "out")


def minhash_near_dup_clusters(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    **lsh_kwargs,
) -> DataFrame:
    """Near-duplicate CLUSTERING with the exact-duplicate collapse: identical
    texts are reduced to their min-id representative before candidate
    generation, connected components run on the representative graph, and
    members are expanded back via their text. Output-identical to running
    :func:`graflo_spark.ops.graphalgo.near_dup_clusters` on all-pairs
    candidates — identical texts always collide in every band, so exact-group
    members join their representative's component through est=1.0 edges, and
    the component minimum is always a representative — but a hot boilerplate
    group of g identical pages costs one row instead of O(g^2) band-join
    pairs. Returns ``(id_col, cluster, is_representative)``."""
    from graflo_spark.ops import graphalgo as ga

    # NULL texts have no shingles, so the uncollapsed pipeline never pairs
    # them: each must come out as its own singleton cluster (matching the
    # all-docs closure oracle), NOT collapsed into one NULL group.
    nonnull = df.filter(F.col(text_col).isNotNull())
    cand, _sig = _rep_candidates_with_sigs(nonnull, id_col, text_col,
                                           **lsh_kwargs)
    verified = cand.filter(F.col("est_jaccard") >= threshold).select(
        "id_a", "id_b")
    # The cluster-assignment doc side and the expansion join need only
    # (digest -> min-id representative) — NOT the text-carrying reps
    # aggregate. Catalyst shares no subtree across the three consumers,
    # so re-deriving reps for them would re-run the sha256 + full-text
    # groupBy shuffle once per consumer (r14; persisting reps was
    # measured WORSE — the InMemoryRelation hides size stats and flips
    # the downstream broadcasts to shuffled joins, 680 -> 1353 tasks).
    # rep_map shuffles 32-byte digests + ids only; by construction its
    # min-id per digest is exactly reps' id set. tds feeds BOTH rep_map
    # and the expansion join below — Catalyst shares no subtree, so
    # without the checkpoint the document scan + sha256 pass ran twice
    # per invocation (r14).
    tds = nonnull.select(
        F.col(id_col), F.sha2(F.col(text_col), 256).alias("__td"),
    ).localCheckpoint(eager=False)
    rep_map = tds.groupBy("__td").agg(F.min(id_col).alias("__rep_id"))
    rep_clusters = ga.near_dup_clusters(
        rep_map.select(F.col("__rep_id").alias(id_col)),
        verified, id_col=id_col)
    # expansion joins on the 32-byte digest, not the full text body
    expanded = (
        tds.join(rep_map, "__td")
        .join(
            rep_clusters.select(
                F.col(id_col).alias("__rep_id"), "cluster"),
            "__rep_id",
        )
        .select(
            id_col,
            "cluster",
            (F.col(id_col) == F.col("cluster")).alias("is_representative"),
        )
    )
    singletons = df.filter(F.col(text_col).isNull()).select(
        id_col,
        F.col(id_col).alias("cluster"),
        F.lit(True).alias("is_representative"),
    )
    return expanded.unionByName(singletons)


def select_representatives(
    clusters: DataFrame,
    scores: DataFrame,
    id_col: str = "doc_id",
    cluster_col: str = "cluster",
    score_col: str = "score",
) -> DataFrame:
    """Quality-aware representative selection: production dedup keeps the
    BEST member of each near-dup cluster (highest quality score, e.g. from
    :func:`graflo_spark.ops.textstats.quality_score`), not the smallest id.
    Re-flags ``is_representative`` on the cluster assignment: per cluster,
    the member with the maximum score wins, ties break to the smallest id
    (deterministic). Members missing a score lose to any scored member.

    Shape: one equi-join on id + one min(struct) aggregate on cluster —
    both AQE-skew-safe equi-shuffles; no windows, no all-pairs."""
    joined = clusters.join(
        scores.select(F.col(id_col), F.col(score_col).alias("__score")),
        id_col,
        "left",
    )
    # min of (-score, id): max score first, then min id — NULL scores sort
    # last because coalesce maps them below every real score
    ranked = F.struct(
        (-F.coalesce(F.col("__score"), F.lit(float("-inf")))).alias("k1"),
        F.col(id_col).alias("k2"),
    )
    best = (
        joined.groupBy(cluster_col)
        .agg(F.min(ranked).alias("__best"))
        .select(cluster_col, F.col("__best.k2").alias("__rep_id"))
    )
    return clusters.drop("is_representative").join(best, cluster_col).select(
        id_col,
        cluster_col,
        (F.col(id_col) == F.col("__rep_id")).alias("is_representative"),
    )


def _normalized_cells(assigned: DataFrame, id_alias: str,
                      vec_alias: str) -> DataFrame:
    """(cluster, neighbor_id, c_vec) -> (cluster, <id_alias>, <vec_alias>)
    with the vector L2-normalized ONCE per row, so the per-PAIR work — the
    quadratic term of within-cell comparison — is a bare dot product
    instead of dot + two norms: measured 2.5x on the pair stage at sf0.1
    (array-lambda HOFs run interpreted, so shrinking the per-pair
    expression is the lever; identical pair set, cosine(a,b) ==
    dot(a/|a|, b/|b|) up to the operation-order change the SQL oracle
    replicates exactly). The norm lands in its OWN column first: embedding
    the aggregate inside the transform lambda would re-evaluate the full
    sum-of-squares per ELEMENT (interpreted HOFs do no common-subexpression
    elimination — O(d^2) per vector instead of O(d)). Shared by
    :func:`semantic_dedup` and :class:`SemDedupStore` so the one-shot and
    incremental paths compare pairs with byte-identical expressions."""
    norm = F.sqrt(F.aggregate(
        F.col("c_vec"), F.lit(0.0), lambda acc, v: acc + v * v))
    return assigned.select(
        "cluster", "neighbor_id", "c_vec", norm.alias("_nrm")
    ).select(
        "cluster", F.col("neighbor_id").alias(id_alias),
        F.transform(F.col("c_vec"),
                    lambda x: x / F.col("_nrm")).alias(vec_alias))


def _pair_dot() -> Column:
    """Dot product of the two normalized sides of a candidate pair
    (columns ``v_a`` / ``v_b`` from :func:`_normalized_cells`)."""
    return F.aggregate(
        F.zip_with(F.col("v_a"), F.col("v_b"), lambda x, y: x * y),
        F.lit(0.0), lambda acc, v: acc + v)


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_clusters: int = 16,
    scores: DataFrame | None = None,
    score_col: str = "score",
    seed: int = 42,
    max_iter: int = 20,
    centroids: list | None = None,
) -> DataFrame:
    """Semantic deduplication over an embedding column, SemDeDup-style
    (Abbas et al., "SemDeDup", arXiv:2303.09540 — published method):
    cluster the corpus with distributed KMeans, compare pairs ONLY within a
    cluster (exact cosine, so no LSH false negatives inside a block), take
    the transitive closure via connected components, and keep one
    representative per semantic group — highest ``scores`` member when
    given, else the smallest id.

    Returns the ``near_dup_clusters`` shape: (id, cluster,
    is_representative); training-data dedup is ``filter(is_representative)``.

    Scale design: the only corpus-sized shuffles are the KMeans fit passes
    and ONE hash join on the cluster id; the quadratic term is per-cluster
    (~(corpus/n_clusters)^2 comparisons), so pick ``n_clusters`` to bound
    the expected block size — the standard SemDeDup cost/recall dial. Pairs
    split across two KMeans cells are missed BY DESIGN (the published
    tradeoff); ``n_clusters=1`` is the exact-recall point, equal to
    ``embedding_near_dup_exact`` + connected components, which is how the
    tests grade the composition.

    ``centroids`` (a list of vectors) skips the KMeans fit and assigns to
    the given FROZEN centroids instead — the incremental-ingest path (new
    slices join an existing index's cells without refitting) and the
    deterministic path the driver oracle replays in SQL.
    """
    from graflo_spark.ops.graphalgo import near_dup_clusters
    from graflo_spark.ops.simsearch import (
        assign_to_centroids, build_ivf_index)

    if centroids is not None:
        # frozen-centroid path: no fit, one deterministic assignment map
        # pass (argmin L2, ties to smallest cluster) — the incremental /
        # verification path; n_clusters is ignored
        assigned = assign_to_centroids(
            df, centroids, corpus_id=id_col, corpus_vec=vec_col).assigned
    elif n_clusters <= 1:
        # the exact-recall point: one block, no fit (KMeans needs k >= 2)
        assigned = df.select(
            F.lit(0).alias("cluster"),
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).cast("array<double>").alias("c_vec"),
        )
    else:
        assigned = build_ivf_index(
            df, n_centroids=n_clusters, corpus_id=id_col,
            corpus_vec=vec_col, seed=seed, max_iter=max_iter,
        ).assigned
    a = _normalized_cells(assigned, "id_a", "v_a")
    b = _normalized_cells(assigned, "id_b", "v_b")
    pairs = (
        a.join(b, "cluster")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(_pair_dot() >= F.lit(float(threshold)))
        .select("id_a", "id_b")
    )
    clusters = near_dup_clusters(
        df.select(F.col(id_col)), pairs, id_col=id_col)
    if scores is not None:
        return select_representatives(
            clusters, scores, id_col=id_col, score_col=score_col)
    return clusters


class SemDedupStore:
    """Incremental SemDeDup across arriving batches — the embedding-side
    twin of :class:`MinHashDedupStore`, built on the same frozen-centroid
    machinery as :class:`graflo_spark.ops.simsearch.IvfIndexStore` (which
    it composes for vector persistence, the commit protocol, compaction,
    and crash recovery).

    Semantics: each ingested batch is assigned to the FROZEN centroids
    (one shuffle-free map pass — ``assign_to_centroids``), compared by
    exact cosine against (a) earlier members of the SAME batch and (b) all
    previously indexed history IN ITS CELL ONLY, and the duplicate PAIRS
    found are persisted under ``<path>/pairs/batch=<seq>``. Because cell
    assignment against frozen centroids is deterministic and batch ids are
    disjoint (caller contract, as for every store in this package), the
    union of per-batch pair sets equals the one-shot
    :func:`semantic_dedup` pair set over the concatenated corpus — every
    within-cell pair is enumerated exactly once, when its LATER member
    arrives. :meth:`clusters` therefore reproduces one-shot
    ``semantic_dedup(full_corpus, centroids=...)`` exactly (same connected
    components, same representatives), which is how the tests and the
    driver oracle grade it.

    Scale: per batch, one assignment map pass, one within-batch cell join
    (|batch|^2 / cells), and one batch-vs-history cell equi-join whose
    right side is partition-pruned to the batch's clusters — history is
    SCANNED per batch but only joined within matching cells, and the
    quadratic term stays bounded by cell size (the SemDeDup dial). The
    vector history itself is never rewritten; ``compact()`` folds batch
    dirs size-tiered. Replay-idempotent for BOTH crash windows: pairs are
    written to ``batch=<eff_seq>`` with mode OVERWRITE before the vector
    commit, and a post-commit replay (repeated ``batch_id``) recomputes
    against history ``< eff_seq`` — strictly pre-batch — so it overwrites
    its own pair dir with identical rows instead of matching its own
    stored vectors.

    ``refit()`` (centroid drift) re-clusters the VECTOR store only;
    persisted pairs are kept — they are exact-cosine facts independent of
    the blocking that found them. Only future recall moves with the new
    cells.

    Reference parity: graflo has no streaming semantic dedup; this extends
    the published SemDeDup method (Abbas et al. 2023, arXiv:2303.09540) to
    the incremental-store discipline of this repo's dedup family.
    """

    def __init__(
        self,
        spark,
        path: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        threshold: float | None = None,
        centroids: list | None = None,
    ):
        import json
        import os

        from graflo_spark.ops.simsearch import IvfIndexStore

        self.spark = spark
        self.path = path.rstrip("/")
        self.id_col = id_col
        self.vec_col = vec_col
        os.makedirs(f"{self.path}/pairs", exist_ok=True)
        self._vectors = IvfIndexStore(
            spark, f"{self.path}/vectors", id_col=id_col,
            vec_col=vec_col, centroids=centroids)
        meta_f = os.path.join(self.path, "_meta")
        if os.path.exists(meta_f):
            with open(meta_f) as fh:
                meta = json.load(fh)
            if (threshold is not None
                    and float(threshold) != meta["threshold"]):
                raise ValueError(
                    f"SemDedupStore at {self.path} was built with "
                    f"threshold={meta['threshold']}; persisted pairs are "
                    "only valid at that threshold. Omit threshold= to "
                    "adopt it, or use a fresh path.")
            self.threshold = float(meta["threshold"])
            self._id_type = meta["id_type"]
        else:
            if threshold is None:
                raise ValueError(
                    "fresh SemDedupStore needs threshold= (persisted "
                    "pairs are computed at store creation time)")
            self.threshold = float(threshold)
            self._id_type = None  # persisted on first ingest

    def _write_meta(self, id_type: str) -> None:
        import json
        import os

        tmp = f"{self.path}/_meta.tmp-{os.getpid()}"
        with open(tmp, "w") as fh:
            json.dump({"threshold": self.threshold, "id_type": id_type},
                      fh)
        os.replace(tmp, os.path.join(self.path, "_meta"))
        self._id_type = id_type

    def _restore_pairs_if_needed(self) -> None:
        """Crash recovery for compact()'s two-rename window on the pairs
        root (the LineDedupStore._history pattern)."""
        import glob
        import os
        import shutil

        root = f"{self.path}/pairs"
        olds = sorted(glob.glob(f"{self.path}/.old-pairs-*"),
                      key=os.path.getmtime)
        if not glob.glob(f"{root}/batch=*"):
            if olds:
                shutil.rmtree(root, ignore_errors=True)
                os.rename(olds[-1], root)
                olds = olds[:-1]
        for stale in olds:
            if glob.glob(f"{root}/batch=*"):
                shutil.rmtree(stale, ignore_errors=True)

    def _pairs_schema(self, with_batch: bool = False) -> str:
        t = self._id_type
        base = f"id_a {t}, id_b {t}"
        return base + (", batch int" if with_batch else "")

    def _batch_pairs(self, assigned: DataFrame,
                     hist: DataFrame | None) -> DataFrame:
        """Duplicate pairs one assigned batch introduces: within-batch
        (id_a < id_b) plus batch-vs-history within shared cells, both at
        exact cosine >= threshold, normalized to (least, greatest) — the
        single pair expression ingest and refit must share so a replayed
        batch overwrites its dir with row-identical content."""
        a = _normalized_cells(assigned, "id_a", "v_a")
        b = _normalized_cells(assigned, "id_b", "v_b")
        thr = F.lit(float(self.threshold))
        pairs = (
            a.join(b, "cluster")
            .filter(F.col("id_a") < F.col("id_b"))
            .filter(_pair_dot() >= thr)
            .select("id_a", "id_b")
        )
        if hist is not None:
            h = _normalized_cells(hist, "id_b", "v_b")
            cross = (
                a.join(h, "cluster")
                .filter(_pair_dot() >= thr)
                .select(
                    F.least(F.col("id_a"), F.col("id_b")).alias("id_a"),
                    F.greatest(F.col("id_a"), F.col("id_b")).alias("id_b"),
                )
            )
            pairs = pairs.unionByName(cross)
        return pairs

    def ingest_batch(self, vecs: DataFrame, batch_id=None) -> DataFrame:
        """Index one batch and return the NEW duplicate pairs it
        introduced (vs earlier in the batch and vs all cell history) —
        read back from the committed pair dir, so the returned frame is
        replay-stable. ``batch_id``: stable delivery id (foreachBatch
        passes its epoch id); a repeat of the last committed one re-runs
        under its original seq against strictly-pre-batch history."""
        from graflo_spark.ops.simsearch import assign_to_centroids

        self._restore_pairs_if_needed()
        seq, last_bid = self._vectors._state()
        eff = seq
        if (batch_id is not None and last_bid is not None
                and str(batch_id) == last_bid and seq > 0):
            eff = seq - 1  # post-commit replay: original seq, pre-batch history
        assigned = assign_to_centroids(
            vecs, self._vectors._centroids, self.id_col,
            self.vec_col).assigned
        hist = None
        if eff > 0:
            hist = self._vectors._read_assigned().filter(
                F.col("batch") < eff).drop("batch")
        pairs = self._batch_pairs(assigned, hist)
        if self._id_type is None:
            self._write_meta(
                vecs.schema[self.id_col].dataType.simpleString())
        pair_dir = f"{self.path}/pairs/batch={eff}"
        pairs.write.mode("overwrite").parquet(pair_dir)
        # hand the vector store the assignment we already computed — the
        # batch pays ONE assignment map pass, not two
        self._vectors.ingest_batch(vecs, batch_id=batch_id,
                                   assigned=assigned)
        return self.spark.read.schema(
            self._pairs_schema()).parquet(pair_dir)

    def duplicate_pairs(self) -> DataFrame:
        """All committed duplicate pairs so far — equals the one-shot
        :func:`semantic_dedup` pair set over everything ingested
        (orphaned in-flight dirs pruned by the partition filter)."""
        self._restore_pairs_if_needed()
        seq, _ = self._vectors._state()
        if seq == 0:
            raise ValueError("empty SemDedupStore")
        return self.spark.read.schema(
            self._pairs_schema(with_batch=True)
        ).parquet(f"{self.path}/pairs").filter(
            F.col("batch") < seq).drop("batch")

    def clusters(self, scores: DataFrame | None = None,
                 score_col: str = "score") -> DataFrame:
        """Semantic duplicate groups over everything ingested, in the
        :func:`semantic_dedup` output shape: (id, cluster,
        is_representative) — CC over the persisted pairs, representatives
        by ``scores`` when given (max score, ties to smallest id), else
        the smallest id. Training-data dedup is
        ``filter(is_representative)``."""
        from graflo_spark.ops.graphalgo import near_dup_clusters

        ids = self._vectors.as_index().assigned.select(
            F.col("neighbor_id").alias(self.id_col))
        out = near_dup_clusters(
            ids, self.duplicate_pairs(), id_col=self.id_col)
        if scores is not None:
            return select_representatives(
                out, scores, id_col=self.id_col, score_col=score_col)
        return out

    def compact(self, min_run: int = 4, full: bool = False) -> None:
        """Fold batch dirs on BOTH sides — the vector store's assignment
        dirs (delegated) and this store's pair dirs — with the shared
        size-tiered policy; the replay-window dir and any orphaned
        in-flight dir are preserved verbatim. SINGLE-WRITER op, between
        batches; crash-safe via the two-rename pairs-root swap."""
        import glob
        import os
        import uuid

        from graflo_spark.ops._store_compact import (
            dir_bytes, fold_plan, link_tree, swap_in)

        self._restore_pairs_if_needed()
        self._vectors.compact(min_run=min_run, full=full)
        seq, _ = self._vectors._state()
        if seq < 2:
            return
        last = seq - 1
        root = f"{self.path}/pairs"
        vals = sorted(int(d.rsplit("=", 1)[1])
                      for d in glob.glob(f"{root}/batch=*"))
        sizes = {v: dir_bytes(f"{root}/batch={v}")
                 for v in vals if v < last}
        groups = fold_plan(sizes, min_run=min_run, full=full)
        if not groups:
            return
        src = self.spark.read.schema(
            self._pairs_schema(with_batch=True)).parquet(root)
        staging = f"{self.path}/.compact-pairs-{uuid.uuid4().hex}"
        os.makedirs(staging, exist_ok=True)
        folded: set[int] = set()
        for group in groups:
            src.filter(F.col("batch").isin(group)).drop("batch").write \
                .parquet(f"{staging}/batch={min(group)}")
            folded.update(group)
        for v in vals:
            if v not in folded:
                link_tree(f"{root}/batch={v}", f"{staging}/batch={v}")
        swap_in(root, staging, f"{self.path}/.old-pairs-{uuid.uuid4().hex}")

    def refit(self, n_centroids: int = 16, seed: int = 42,
              max_iter: int = 20) -> None:
        """Explicit rebuild for centroid drift: re-fits and re-assigns the
        VECTOR store (see ``IvfIndexStore.refit``), then RE-DERIVES the
        replay-window batch's pair dir under the new blocking. Pairs of
        all OLDER batches are kept as found — exact-cosine duplicates are
        facts regardless of which cell blocking surfaced them — but the
        last committed batch's dir must match what a post-commit replay
        of its ``batch_id`` would now write (assignment and pair
        expressions are shared with ``ingest_batch``, so the overwrite is
        row-identical); without this, a replay after refit would silently
        shrink the persisted pair set (review finding). The replay-window
        batch's recall therefore follows the new cells; everything
        older keeps its original recall."""
        import glob

        self._restore_pairs_if_needed()
        self._vectors.refit(
            n_centroids=n_centroids, seed=seed, max_iter=max_iter)
        seq, _ = self._vectors._state()
        last = seq - 1
        assigned_all = self._vectors._read_assigned()
        batch_last = assigned_all.filter(
            F.col("batch") == last).drop("batch")
        hist = (assigned_all.filter(F.col("batch") < last).drop("batch")
                if last > 0 else None)
        pairs = self._batch_pairs(batch_last, hist)
        pairs.write.mode("overwrite").parquet(
            f"{self.path}/pairs/batch={last}")
        # orphaned pair dirs above the committed window (their vector
        # twin was dropped by the vector refit) would survive as stale
        # facts about vectors no longer indexed — drop them too
        import shutil

        for d in glob.glob(f"{self.path}/pairs/batch=*"):
            if int(d.rsplit("=", 1)[1]) >= seq:
                shutil.rmtree(d, ignore_errors=True)


def substring_overlap_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 7,
    window: int = 4,
    min_shared: int = 10,
    max_df: int | None = None,
) -> DataFrame:
    """MOSS-style common-substring pair detection over winnowing
    fingerprints: report document pairs sharing >= ``min_shared``
    fingerprints. The winnowing guarantee (any shared run of
    ``k + window - 1`` chars shares a fingerprint) makes this the screen
    for LONG VERBATIM overlap — license boilerplate, quoted passages,
    copy-paste spans — which whole-document MinHash Jaccard misses when
    the rest of the documents differ. Returns ``(id_a, id_b, n_shared)``
    with ``id_a < id_b``.

    Scale shape: fingerprint sets cost one shuffle on doc id
    (:func:`graflo_spark.ops.textstats.winnowing_fingerprints`), then ONE
    equi-join on the fingerprint value + a pair-count aggregate. The join
    is candidate-bound, not row-bound: a fingerprint present in d
    documents contributes d^2 join rows, so universal boilerplate is the
    blow-up risk — ``max_df`` drops fingerprints appearing in more than
    that many documents (IDF-style stop-fingerprint removal; a fragment
    shared by half the corpus identifies nothing anyway). At 100 TB,
    ALWAYS set it.
    """
    from graflo_spark.ops.textstats import winnowing_fingerprints

    fps = winnowing_fingerprints(df, id_col, text_col, k=k, window=window)
    if max_df is not None:
        keep = (
            fps.groupBy("fp").agg(F.count("*").alias("_df"))
            .filter(F.col("_df") <= max_df).select("fp")
        )
        fps = fps.join(keep, "fp")
    a = fps.select(F.col("fp"), F.col("id").alias("id_a"))
    b = fps.select(F.col("fp"), F.col("id").alias("id_b"))
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def dedup_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    delimiter: str = "\n",
) -> DataFrame:
    """Corpus-wide LINE-level exact dedup, the C4 / Dolma / RefinedWeb
    scrub (Raffel et al. 2020 §2.2 "three-sentence span" policy,
    line-granular as productionized in public pipelines): every line that
    occurs more than once ANYWHERE in the corpus keeps exactly its first
    occurrence (smallest ``(id, position)``) and loses the rest —
    boilerplate navigation, cookie banners, repeated headers. Documents
    whose every line is a non-first duplicate come back with empty text;
    NULL-text documents pass through unchanged.

    Complements the other dedup granularities: whole-document exact
    (:func:`exact_dedup`), near-dup (:func:`minhash_dedup`), and
    sub-line token spans (:func:`duplicated_substring_spans`) — line
    dedup is the cheap high-yield middle the published pipelines all run.

    Scale shape: posexplode to lines (one shuffle keyed on doc id), hash
    each line to 60 bits (``md5_bits(line, 15)``, the md5 family a SQL
    oracle reproduces) so the duplicate-detection shuffle moves hashes,
    not text; groupBy line hash is map-side combinable and its OUTPUT
    (the duplicated-line table) is Zipf-small next to the corpus; one
    equi-join back on the hash (AQE broadcasts the small dup table); the
    in-order re-assembly groups on doc id. Same birthday-collision note
    as the span scrub: at 10^13 lines a 60-bit hash mis-drops ~1e-5 of
    lines — acceptable for a scrub, documented.

    Reference analogue: none (north-star training-pipeline extension).
    """
    hashed = _hashed_lines(df, id_col, text_col, delimiter)
    owners = (
        hashed.groupBy("_h")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.min(F.struct(F.col("id"), F.col("pos"))).alias("_owner"),
        )
    )
    # blank/whitespace lines are STRUCTURE (paragraph breaks), not content:
    # always kept, never counted as corpus-wide duplicates
    kept = (
        hashed.join(owners, "_h")
        .filter(
            (F.trim(F.col("line")) == "")
            | (F.col("_n") == 1)
            | ((F.col("id") == F.col("_owner.id"))
               & (F.col("pos") == F.col("_owner.pos")))
        )
        .select("id", "pos", "line")
    )
    return _reassemble_lines(df, kept, id_col, text_col, delimiter)


def reflow_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = 10,
) -> DataFrame:
    """Deterministically reflow single-line text into ``width``-token
    lines joined by '\\n' — the staging step that gives line-granular
    operators real line structure over a single-line corpus (used by the
    dedup_lines driver row and the scale bench; both sides MUST share
    this exact transform or their cut-count invariants silently drift).
    NULL text passes through; empty-token runs are dropped before
    chunking. Returns only (id_col, text_col)."""
    t = F.col(text_col)
    toks = F.filter(F.split(F.trim(t), r"\s+"), lambda w: w != F.lit(""))
    n_lines = F.ceil(F.size(toks).cast("double") / F.lit(float(width))
                     ).cast("int")
    reflowed = F.when(
        t.isNull(), F.lit(None).cast("string")
    ).otherwise(
        F.array_join(
            F.transform(
                F.sequence(F.lit(0), F.greatest(n_lines, F.lit(1)) - 1),
                lambda i: F.array_join(
                    F.slice(toks, i * width + 1, width), " "),
            ),
            "\n",
        )
    )
    return df.select(F.col(id_col), reflowed.alias(text_col))


def _hashed_lines(
    df: DataFrame, id_col: str, text_col: str, delimiter: str,
) -> DataFrame:
    """``(id, pos, line, _h)`` for every line of every non-NULL text.
    delimiter is a Java regex for SPLITTING but a literal string for the
    re-JOIN (:func:`_reassemble_lines`), so pass a literal ('\\n', the
    published pipelines' granularity) for lossless round-trips."""
    lines = (
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("id"),
            F.posexplode(F.split(F.col(text_col), delimiter, -1))
            .alias("pos", "line"),
        )
    )
    return lines.withColumn("_h", md5_bits("line", 15))


def _reassemble_lines(
    df: DataFrame, kept: DataFrame, id_col: str, text_col: str,
    delimiter: str,
) -> DataFrame:
    """Rebuild each document from its kept ``(id, pos, line)`` rows in
    position order; fully-scrubbed docs come back empty, NULL text passes
    through."""
    rebuilt = (
        kept.groupBy("id")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "line")))
             .alias("_ls"))
        .select(
            "id",
            F.array_join(
                F.transform(F.col("_ls"), lambda t: t["line"]), delimiter)
            .alias("_scrubbed"),
        )
    )
    # name-list join so id_col == "id" coalesces (the cut_duplicated_spans
    # AMBIGUOUS_REFERENCE lesson)
    return (
        df.join(rebuilt.withColumnRenamed("id", id_col), [id_col], "left")
        .select(
            *[c for c in df.columns if c != text_col],
            F.when(F.col(text_col).isNull(), F.lit(None).cast("string"))
            .otherwise(F.coalesce(F.col("_scrubbed"), F.lit("")))
            .alias(text_col),
        )
    )


class LineDedupStore:
    """Incremental corpus-wide line dedup across arriving batches (the
    streaming counterpart of :func:`dedup_lines`, same design family as
    :class:`MinHashDedupStore` / `PackingStore`): persists the set of line
    hashes ever seen, so a line's FIRST occurrence across the whole stream
    survives and every later copy — in the same batch or any later batch —
    is scrubbed. The daily-crawl boilerplate shape: day N's navigation
    chrome already seen on day 1 vanishes from day N's text.

    Crash-safe and replay-idempotent the PackingStore way, hardened for
    BOTH crash windows: each batch's new hashes land under
    ``<path>/lines/batch=<seq>/`` with mode OVERWRITE, where ``<seq>``
    comes from the committed ``_seq`` file, and the commit records the
    caller's ``batch_id`` alongside the seq. History is read as
    ``batch < seq``, so a retry that crashed BEFORE the commit replaces
    its orphaned hash dir; a retry that crashed AFTER the commit (output
    write lost — the foreachBatch at-least-once window) is recognized by
    its repeated ``batch_id`` and re-runs under its ORIGINAL seq, so it
    scrubs against exactly the pre-batch history instead of seeing its own
    hashes as history and emitting empty documents. Callers outside
    foreachBatch that may re-deliver a batch must pass a stable
    ``batch_id`` to get that second guarantee.

    Scale: per batch, one line explode (batch-sized), one anti-join
    against the stored hash table (hash-keyed equi-join; the store is the
    corpus's DISTINCT line set — Zipf-small next to total line volume),
    the within-batch owner aggregate, and a doc-keyed reassembly. Only
    FRESH hashes (not yet in history) are recorded, so store growth is
    bounded by distinct lines, not stream length.
    """

    def __init__(
        self,
        spark,
        path: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        delimiter: str = "\n",
    ):
        import os

        self.spark = spark
        self.path = path.rstrip("/")
        self.id_col = id_col
        self.text_col = text_col
        self.delimiter = delimiter
        os.makedirs(f"{self.path}/lines", exist_ok=True)
        self._ck = Checkpointer(spark)

    def _seq_file(self) -> str:
        import os

        return os.path.join(self.path, "_seq")

    def _state(self) -> tuple[int, str | None]:
        """(next_seq, last committed batch_id or None)."""
        import os

        f = self._seq_file()
        if not os.path.exists(f):
            return 0, None
        with open(f) as fh:
            parts = fh.read().split("\n")
        seq = int(parts[0].strip() or 0)
        bid = parts[1] if len(parts) > 1 and parts[1] != "" else None
        return seq, bid

    def _seq(self) -> int:
        return self._state()[0]

    def _commit_seq(self, seq: int, batch_id=None) -> None:
        import os
        import tempfile

        fd, tmp = tempfile.mkstemp(dir=self.path)
        with os.fdopen(fd, "w") as fh:
            fh.write(str(seq))
            if batch_id is not None:
                fh.write(f"\n{batch_id}")
        os.replace(tmp, self._seq_file())

    def _history(self, upto: int) -> DataFrame | None:
        """DISTINCT line hashes of committed batches ``< upto`` (None when
        no history) — filtering on the partition column, so a replayed
        batch's own orphaned dir is pruned out, never joined."""
        import glob
        import os
        import shutil

        root = f"{self.path}/lines"
        if not glob.glob(f"{root}/batch=*"):
            # crash recovery (the MinHashDedupStore._stored pattern): a
            # process death inside compact()'s rename window leaves the
            # full history only under .old-lines-*; restore the newest
            olds = sorted(glob.glob(f"{self.path}/.old-lines-*"),
                          key=os.path.getmtime)
            if not olds:
                return None
            shutil.rmtree(root, ignore_errors=True)  # empty dir from init
            os.rename(olds[-1], root)
        hist = self.spark.read.parquet(root).filter(
            F.col("batch") < upto)
        return hist.select("_h")

    def compact(self, target_files: int = 1, min_run: int = 4,
                full: bool = False) -> None:
        """Fold per-batch hash dirs into consolidated partitions. Every
        ``scrub_batch`` writes one ``batch=<seq>`` parquet dir, so a
        daily-crawl stream accumulates thousands of tiny dirs and the
        history side of the anti-join pays per-file open cost — the same
        small-files problem ``MinHashDedupStore.compact`` closes. The
        last committed batch's dir — the post-commit replay window
        (``batch_id`` re-run under its original seq, class docstring) —
        and any orphaned in-flight dir are preserved verbatim, so replay
        semantics are unchanged: every surviving partition value stays
        ``< upto`` exactly when it did before.

        Fold selection is size-tiered (``_store_compact.tiered_groups``,
        LSM/STCS): only similar-size runs holding >= ``min_run`` dirs
        fold, each into the smallest batch id of its run — one call's
        I/O is bounded by the tier that is ready, not by total history,
        so compact walls stay flat over a long stream (amortized rewrite
        O(N log N) vs fold-everything's Theta(N^2/cadence)).
        ``full=True`` restores the everything-into-``batch=0`` policy.

        SINGLE-WRITER op, between batches (foreachBatch is sequential).
        Crash-safe the MinHashDedupStore way: the new root — folded dirs
        plus the preserved dirs (hardlinked, metadata-only: parquet files
        are immutable), so no state is ever split across two roots — is
        staged under ``.compact-lines-*``, then swapped in via rename; a
        death between the two renames leaves everything under
        ``.old-lines-*``, which ``_history`` restores on next access
        (stale staging dirs may remain to sweep)."""
        import glob
        import uuid

        from graflo_spark.ops._store_compact import (
            dir_bytes, fold_plan, link_tree, swap_in)

        last = self._seq() - 1  # the replay-window batch
        root = f"{self.path}/lines"
        dirs = glob.glob(f"{root}/batch=*")
        vals = sorted(int(d.rsplit("=", 1)[1]) for d in dirs)
        sizes = {v: dir_bytes(f"{root}/batch={v}")
                 for v in vals if v < last}
        groups = fold_plan(sizes, min_run=min_run, full=full)
        if not groups:
            return  # nothing worth folding
        staging = f"{self.path}/.compact-lines-{uuid.uuid4().hex}"
        folded_ids: set[int] = set()
        for group in groups:
            folded = (
                self.spark.read.parquet(root)
                .filter(F.col("batch").isin(group))
                .select("_h").distinct()
            )
            folded.coalesce(max(target_files, 1)).write.parquet(
                f"{staging}/batch={min(group)}")
            folded_ids.update(group)
        for v in vals:
            if v not in folded_ids:
                link_tree(f"{root}/batch={v}", f"{staging}/batch={v}")
        swap_in(root, staging, f"{self.path}/.old-lines-{uuid.uuid4().hex}")

    def scrub_batch(self, df: DataFrame, batch_id=None) -> DataFrame:
        """Scrub one batch against stream history + itself, record its
        fresh lines, commit the batch seq. Returns the scrubbed batch
        (same contract as :func:`dedup_lines`: blank lines kept as
        structure, fully-scrubbed docs -> empty text, NULL passes
        through).

        ``batch_id``: a stable identifier for this delivery (foreachBatch
        passes its epoch id). When a call repeats the LAST committed
        batch_id, the batch re-runs under its original seq — the
        post-commit replay guarantee (class docstring). Omit it only if
        the caller never re-delivers a batch after scrub_batch returns.

        LIFETIME of the returned frame: two-generation checkpoint window
        (consume within the batch) — the dedup_batch/pack_batch contract.
        """
        seq, last_bid = self._state()
        if (batch_id is not None and last_bid is not None
                and str(batch_id) == last_bid and seq > 0):
            seq -= 1  # post-commit replay: re-run under the original seq
        hashed = _hashed_lines(
            df, self.id_col, self.text_col, self.delimiter)
        hist = self._history(upto=seq)
        fresh = (
            hashed if hist is None
            else hashed.join(hist, hashed["_h"] == hist["_h"], "left_anti")
        )
        # within-batch keep-first over lines NOT already in history
        owners = (
            fresh.groupBy("_h")
            .agg(
                F.count(F.lit(1)).alias("_n"),
                F.min(F.struct(F.col("id"), F.col("pos"))).alias("_owner"),
            )
        )
        kept = (
            hashed.withColumn("_blank", F.trim(F.col("line")) == "")
            .join(owners, "_h", "left")
            .filter(
                F.col("_blank")
                | (
                    F.col("_n").isNotNull()  # not a historical duplicate
                    & ((F.col("_n") == 1)
                       | ((F.col("id") == F.col("_owner.id"))
                          & (F.col("pos") == F.col("_owner.pos"))))
                )
            )
            .select("id", "pos", "line")
        )
        out = self._ck(
            _reassemble_lines(
                df, kept, self.id_col, self.text_col, self.delimiter),
            slot="scrub",
        )
        # record the distinct FRESH non-blank lines of this batch (kept or
        # scrubbed within-batch — both are 'seen' for later batches; lines
        # already in history are NOT re-recorded, so the store holds each
        # distinct line once), then commit
        (
            fresh.filter(F.trim(F.col("line")) != "")
            .select("_h").distinct()
            .write.mode("overwrite")
            .parquet(f"{self.path}/lines/batch={seq}")
        )
        self._commit_seq(seq + 1, batch_id)
        return out


def duplicated_substring_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    exclude_first_occurrence: bool = False,
) -> DataFrame:
    """EXACT repeated-substring detection, the Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better", public)
    primitive that near-dup LSH cannot give: every maximal token span
    covered by at least one k-token gram that occurs >= 2 times in the
    CORPUS (across or within documents). Returns
    ``(id, span_start, span_end, span_tokens)`` with token positions
    0-based inclusive; the training-data scrub is then "cut these spans"
    (memorization-prone boilerplate, licenses, repeated headers), which
    removes exact repetition even between documents too dissimilar for
    any similarity threshold to pair.

    ``exclude_first_occurrence=True`` keeps one copy: the gram occurrence
    with the smallest (id, pos) is the owner and is not marked, so the
    corpus retains exactly one copy of every repeated run (the Lee et al.
    policy); the default marks ALL occurrences (the audit view).

    Scale shape (all codegen, no Python):
    - grams: one row per token (posexplode) + k-1 ``lead`` window columns
      concatenated and hashed — one shuffle on doc id;
    - duplicated grams: groupBy gram hash (map-side combinable; output is
      only the grams that repeat — Zipf-small next to the corpus) +
      ``min_by`` owner;
    - mark: equi-join grams to the duplicated set on the hash (AQE
      broadcasts when the dup table is small);
    - spans: explode each marked gram to its k covered positions,
      distinct, then the classic gap-and-islands (row_number window per
      doc, group by position - row_number) — shuffles stay keyed on doc
      id throughout.

    Grams hash with ``md5_bits(g, 15)`` (60-bit, the winnowing convention
    a DuckDB oracle reproduces bit-for-bit; at 10^13 grams expect a ~1e-5
    birthday false-positive mark rate — acceptable for a scrub,
    documented).

    Reference analogue: none (north-star training-pipeline extension).
    """
    from pyspark.sql import Window as W

    toks = (
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("id"),
            F.posexplode(F.split(F.trim(F.col(text_col)), r"\s+"))
            .alias("pos", "w"),
        )
        .filter(F.col("w") != "")
    )
    w_doc = W.partitionBy("id").orderBy("pos")
    parts = [F.col("w")] + [
        F.lead("w", i).over(w_doc) for i in range(1, k)
    ]
    grams = (
        toks.select("id", "pos", F.concat_ws(chr(31), *parts).alias("g"),
                    F.lead("w", k - 1).over(w_doc).alias("_last"))
        .filter(F.col("_last").isNotNull())
        .drop("_last")
    )
    grams = grams.select("id", "pos", md5_bits("g", 15).alias("h"))
    dup = (
        grams.groupBy("h")
        .agg(
            F.count(F.lit(1)).alias("n_occ"),
            F.min(F.struct("id", "pos")).alias("owner"),
        )
        .filter(F.col("n_occ") > 1)
    )
    marked = grams.join(dup, "h")
    if exclude_first_occurrence:
        marked = marked.filter(
            ~((F.col("id") == F.col("owner.id"))
              & (F.col("pos") == F.col("owner.pos"))))
    covered = (
        marked.select(
            "id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(k - 1)))
            .alias("cpos"))
        .distinct()
    )
    grp = (F.col("cpos") - F.row_number().over(
        W.partitionBy("id").orderBy("cpos"))).alias("_grp")
    return (
        covered.select("id", "cpos", grp)
        .groupBy("id", "_grp")
        .agg(
            F.min("cpos").alias("span_start"),
            F.max("cpos").alias("span_end"),
            F.count(F.lit(1)).alias("span_tokens"),
        )
        .drop("_grp")
    )


def cut_duplicated_spans(
    df: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply a :func:`duplicated_substring_spans` result to the corpus:
    tokens inside any span are cut and the remainder re-joined with single
    spaces — the Lee et al. scrub step itself (pair with
    ``exclude_first_occurrence=True`` spans so one copy of every repeated
    run survives corpus-wide). Documents whose every token is covered come
    back with empty text (callers typically drop them with a min-token
    gate); NULL-text documents pass through unchanged.

    Shape: tokens explode once, spans explode to covered positions, one
    anti-join on (id, pos), and an in-order re-assembly via
    ``array_sort(collect_list(struct(pos, w)))`` — grouping is on doc id
    throughout, no windows, no Python.
    """
    toks = (
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("id"),
            F.posexplode(F.split(F.trim(F.col(text_col)), r"\s+"))
            .alias("pos", "w"),
        )
        .filter(F.col("w") != "")
    )
    covered = spans.select(
        F.col("id"),
        F.explode(
            F.sequence(F.col("span_start"), F.col("span_end"))).alias("pos"),
    )
    kept = toks.join(covered, ["id", "pos"], "left_anti")
    rebuilt = (
        kept.groupBy("id")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "w"))).alias("_ts"))
        .select(
            "id",
            F.array_join(F.transform(F.col("_ts"), lambda t: t["w"]), " ")
            .alias("_scrubbed"),
        )
    )
    # Join on the column-NAME list so the key coalesces into one column —
    # joining on an expression leaves two columns and an
    # AMBIGUOUS_REFERENCE whenever the caller's id_col is itself "id".
    return (
        df.join(rebuilt.withColumnRenamed("id", id_col), [id_col], "left")
        .select(
            *[c for c in df.columns if c != text_col],
            F.when(F.col(text_col).isNull(), F.lit(None).cast("string"))
            .otherwise(F.coalesce(F.col("_scrubbed"), F.lit("")))
            .alias(text_col),
        )
    )

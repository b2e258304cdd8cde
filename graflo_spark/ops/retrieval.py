"""Lexical retrieval: BM25 / tf-idf top-k over a text column.

The similarity-search family (ops/simsearch.py, ops/pq.py) covers DENSE
retrieval over embedding columns; this module adds the SPARSE side — the
BM25 keyword search every corpus tool offers next to ANN. No reference
analogue (the reference has no text-retrieval surface); formulas are the
published ones: Okapi BM25 with the Lucene idf smoothing
``ln(1 + (N - df + 0.5)/(df + 0.5))`` (Robertson & Zaragoza 2009), and a
sublinear-tf / smoothed-idf variant ``(1 + ln tf) * ln((N+1)/(df+1))``
(the SMART lnn.ltn weighting) as ``method='tfidf'``.

100 TB shape — the corpus is never all-pairs joined with anything:

1. One vocabulary-pruned posting pass over the corpus (an
   ``arrays_overlap`` prefilter skips non-matching docs before the
   explode) plus one text-column stats aggregate for (N, avgdl) — two
   scans of ONE column; pass ``index=`` or ``stats=`` to skip both/the
   latter on repeated query batches.
2. tf per (doc, term): a (doc_id, term)-keyed groupBy with map-side
   combine; doc length rides along (it is constant per doc).
3. df per term = the tf table's per-term row count — after the vocabulary
   prune this is at most |query vocab| rows and broadcasts back.
4. Corpus scalars (N, avgdl) come from one tiny aggregate, attached by a
   broadcast crossJoin — no ``collect()``.
5. Per-(query, doc) score = one more keyed groupBy; the global top-k runs
   as salted local top-k -> k*n_salts-row global window, so a 3-query /
   billion-doc run never funnels the scored table through 3 reducers.

For repeated probing, :class:`LexicalIndex` persists the postings
partitioned by a PORTABLE term bucket (md5-60bit, the sampling family's
cross-engine hash — ops/sampling.py:21): buckets are computable
driver-side in plain Python, so a probe turns into literal
``term_bucket IN (...)`` predicates and parquet partition pruning reads
only |query vocab| buckets of a 100 TB index.

Determinism contract: tf/df/dl/N are integers, avgdl is one fixed
division — every per-term score is the same IEEE-double expression on
identical operands in any engine; only the per-document SUM order can
differ (1-ulp wobble), so ranking orders by ``round(score, round_scores)``
(ties by doc id), exactly the discipline the ANN rows use for cosine.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from graflo_spark.ops.textstats import tokens_expr  # the ONE tokenizer
from graflo_spark.ops.util import md5_bits, py_md5_bits

__all__ = [
    "tokens_expr", "term_bucket", "py_term_bucket", "build_postings",
    "corpus_stats", "LexicalIndex", "build_lexical_index", "bm25_topk",
    "LexicalIndexStore", "rrf_fuse", "phrase_topk",
]

_SEP = chr(31)


def term_bucket(term: Column, n_buckets: int) -> Column:
    """Portable term -> bucket id: first 15 hex chars of
    ``md5(term <0x1f> 'lexidx')`` mod ``n_buckets``. Matches
    :func:`py_term_bucket` bit-for-bit so a driver-side query planner can
    compute the buckets to prune to without touching the cluster; any
    engine with md5 replays it. The digest costs once per POSTING at index
    build, never on the probe path."""
    h = md5_bits(F.concat_ws(_SEP, term, F.lit("lexidx")), 15)
    return F.pmod(h, F.lit(n_buckets))


def py_term_bucket(term: str, n_buckets: int) -> int:
    """Driver-side twin of :func:`term_bucket`."""
    return py_md5_bits(f"{term}{_SEP}lexidx", 15) % n_buckets


def _bm25_term_score(tf: Column, df: Column, dl: Column, n: Column,
                     avgdl: Column, k1: float, b: float) -> Column:
    idf = F.log(F.lit(1.0) + (n - df + F.lit(0.5)) / (df + F.lit(0.5)))
    return idf * (tf * F.lit(k1 + 1.0)) / (
        tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dl / avgdl))


def _tfidf_term_score(tf: Column, df: Column, n: Column) -> Column:
    return (F.lit(1.0) + F.log(tf)) * F.log((n + F.lit(1.0)) / (df + F.lit(1.0)))


def build_postings(
    corpus: DataFrame,
    corpus_id: str = "doc_id",
    text_col: str = "text",
    vocab: list[str] | DataFrame | None = None,
    positions: bool = False,
) -> DataFrame:
    """(doc_id, term, tf, dl[, positions]) postings. ``vocab`` prunes the
    posting build to the terms that can score — pass the query vocabulary
    for one-shot scoring, leave None to build a full index. A LIST (the
    usual case: query vocabularies are tiny and driver-known) becomes a
    codegen ``arrays_overlap`` prefilter that skips non-matching documents
    BEFORE the explode — at corpus scale the explode then only ever
    touches matching docs — plus a literal ``isin`` on the exploded term;
    a DataFrame falls back to a broadcast join downstream of the explode.

    ``positions=True`` additionally keeps each posting's sorted token
    positions (``array<int>``, tf-bounded per posting) — the positional
    index :func:`phrase_topk` probes; exactly the per-(doc, term) arrays
    its corpus path builds in-flight, persisted once instead."""
    docs = corpus.select(
        F.col(corpus_id).alias("doc_id"),
        tokens_expr(F.col(text_col)).alias("toks"),
    )
    if isinstance(vocab, list):
        docs = docs.filter(F.arrays_overlap(
            "toks", F.array(*[F.lit(t) for t in sorted(set(vocab))])))
    if positions:
        toks = docs.select(
            "doc_id", F.size("toks").cast("double").alias("dl"),
            F.posexplode("toks").alias("pos", "term"),
        )
    else:
        toks = docs.select(
            "doc_id", F.size("toks").cast("double").alias("dl"),
            F.explode("toks").alias("term"),
        )
    if isinstance(vocab, list):
        toks = toks.filter(F.col("term").isin(sorted(set(vocab))))
    elif vocab is not None:
        toks = toks.join(F.broadcast(vocab.select("term").distinct()), "term")
    aggs = [
        F.count(F.lit(1)).cast("double").alias("tf"),
        F.max("dl").alias("dl"),
    ]
    if positions:
        aggs.append(F.sort_array(F.collect_list("pos")).alias("positions"))
    return toks.groupBy("doc_id", "term").agg(*aggs)


def _empty_ranking(
    queries: DataFrame, query_id: str, corpus: DataFrame, corpus_id: str,
) -> DataFrame:
    """Zero-row ``(query_id, neighbor_id, score, rank)`` frame with the
    id types inherited from the caller's frames — the empty-vocabulary
    result of :func:`bm25_topk` / :func:`phrase_topk`."""
    return (
        queries.select(F.col(query_id).alias("query_id")).limit(0)
        .crossJoin(
            corpus.select(F.col(corpus_id).alias("neighbor_id")).limit(0))
        .withColumn("score", F.lit(0.0))
        .withColumn("rank", F.lit(1).cast("int"))
    )


def _dl_expr(text_col: str) -> F.Column:
    """Document length with NULL text counted as ZERO tokens — the one
    definition every stats path shares, so n * avgdl == total tokens
    exactly and the extend/store count-weighted merges reproduce a
    one-shot rebuild bit-for-bit even with NULL-text rows present."""
    t = F.col(text_col)
    return F.when(t.isNull(), F.lit(0.0)).otherwise(
        F.size(tokens_expr(t)).cast("double"))


def corpus_stats(corpus: DataFrame, text_col: str = "text") -> DataFrame:
    """One-row (n, avgdl, dl_sum) frame over ALL documents; NULL/blank
    texts are zero-length docs (see :func:`_dl_expr`). ``dl_sum`` (an
    exact integer-valued double) is what merges carry: avg-of-avgs is a
    rounded quantity, sum-of-sums is not."""
    return corpus.select(_dl_expr(text_col).alias("dl")).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("dl").alias("avgdl"),
        F.coalesce(F.sum("dl"), F.lit(0.0)).alias("dl_sum"),
    )


@dataclass
class LexicalIndex:
    """A persisted inverted index: bucket-partitioned postings plus the
    (n, avgdl) corpus scalars. Build once (:func:`build_lexical_index`),
    probe many times (:func:`bm25_topk` with ``index=``) — probes prune to
    the query vocabulary's buckets via literal partition predicates.
    ``positional=True`` indexes carry per-posting sorted position arrays
    so :func:`phrase_topk` probes get the same pruned economics."""

    postings: DataFrame   # (doc_id, term, tf, dl[, positions], term_bucket)
    stats: DataFrame      # 1 row: (n, avgdl, dl_sum)
    n_buckets: int
    positional: bool = False

    _POSTINGS_SCHEMA = ("doc_id bigint, term string, tf double, "
                        "dl double, term_bucket int")
    _POSITIONAL_SCHEMA = ("doc_id bigint, term string, tf double, "
                          "dl double, positions array<int>, term_bucket int")

    @staticmethod
    def postings_schema(positional: bool) -> str:
        return (LexicalIndex._POSITIONAL_SCHEMA if positional
                else LexicalIndex._POSTINGS_SCHEMA)

    def write(self, path: str) -> None:
        self.postings.write.mode("overwrite").partitionBy(
            "term_bucket").parquet(f"{path}/postings")
        self.stats.withColumn(
            "n_buckets", F.lit(self.n_buckets)
        ).withColumn(
            "positional", F.lit(self.positional)
        ).write.mode("overwrite").parquet(f"{path}/stats")

    @staticmethod
    def read(spark, path: str) -> "LexicalIndex":
        stats = spark.read.parquet(f"{path}/stats")
        n_buckets = stats.select("n_buckets").head()[0]
        positional = bool(
            "positional" in stats.columns
            and stats.select("positional").head()[0])
        # explicit schema: an all-blank corpus writes ZERO posting files
        # (partitionBy on an empty frame leaves only _SUCCESS) and plain
        # reads would die with UNABLE_TO_INFER_SCHEMA
        stats = stats.drop("n_buckets", "positional")
        if "dl_sum" not in stats.columns:
            # index persisted before dl_sum existed: back-fill the token
            # total from the rounded average (exact when n*avgdl is an
            # integer-valued double, 1-ulp otherwise)
            stats = stats.withColumn(
                "dl_sum", F.col("n") * F.col("avgdl"))
        return LexicalIndex(
            postings=spark.read.schema(
                LexicalIndex.postings_schema(positional)
            ).parquet(f"{path}/postings"),
            stats=stats,
            n_buckets=int(n_buckets),
            positional=positional,
        )

    def pruned(self, terms: list[str]) -> DataFrame:
        """Postings restricted to ``terms``'s buckets by LITERAL partition
        predicates (driver-computed via :func:`py_term_bucket` — shows as
        partition pruning in the scan, not a post-scan filter), then to the
        terms themselves."""
        buckets = sorted({py_term_bucket(t, self.n_buckets) for t in terms})
        return self.postings.filter(
            F.col("term_bucket").isin(buckets)
        ).filter(F.col("term").isin(terms))

    def extend(
        self,
        new_corpus: DataFrame,
        corpus_id: str = "doc_id",
        text_col: str = "text",
    ) -> "LexicalIndex":
        """Incremental ingest (the IvfIndex.extend shape): posting-build
        ONLY the new docs, union, and recombine the scalars EXACTLY from
        the carried ``dl_sum`` token totals (integer-valued doubles: the
        merged avgdl is bit-identical to a one-shot rebuild's, which an
        avg-of-rounded-avgs merge would not be) — never rescanning the
        indexed corpus. Caller contract: new ids are disjoint from
        indexed ids (same as every store in this repo; enforceable
        upstream by an anti-join)."""
        add = build_postings(
            new_corpus, corpus_id, text_col, positions=self.positional,
        ).withColumn(
            "term_bucket", term_bucket(F.col("term"), self.n_buckets))
        add_stats = corpus_stats(new_corpus, text_col)
        merged = self.stats.unionByName(add_stats).agg(
            F.sum("n").alias("n"),
            (F.sum("dl_sum") / F.sum("n")).alias("avgdl"),
            F.sum("dl_sum").alias("dl_sum"),
        )
        return LexicalIndex(
            self.postings.unionByName(add), merged, self.n_buckets,
            self.positional)


def build_lexical_index(
    corpus: DataFrame,
    corpus_id: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
    positions: bool = False,
) -> LexicalIndex:
    post = build_postings(
        corpus, corpus_id, text_col, positions=positions,
    ).withColumn("term_bucket", term_bucket(F.col("term"), n_buckets))
    return LexicalIndex(
        post, corpus_stats(corpus, text_col), n_buckets, positions)


def bm25_topk(
    queries: DataFrame,
    corpus: DataFrame | None = None,
    k: int = 10,
    *,
    index: LexicalIndex | None = None,
    query_id: str = "query_id",
    query_text: str = "text",
    corpus_id: str = "doc_id",
    corpus_text: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    method: str = "bm25",
    round_scores: int | None = 6,
    n_salts: int = 32,
    require_all_terms: bool = False,
    stats: DataFrame | None = None,
) -> DataFrame:
    """Top-k documents per query by lexical score; returns
    ``(query_id, neighbor_id, score, rank)`` with ``score`` rounded to
    ``round_scores`` (the ranking key — see the module determinism note).

    Exactly one of ``corpus`` / ``index``: with a corpus the postings are
    built on the fly pruned to the query vocabulary; with an index the
    probe reads only the vocabulary's ``term_bucket`` partitions. df is
    per-term document frequency over the WHOLE corpus either way (the
    vocabulary prune cannot change it: df counts docs containing the
    term, all of which survive the prune).

    ``require_all_terms`` switches OR (rank anything matching any term —
    the BM25 default) to boolean-AND retrieval: only documents containing
    EVERY term of the query score; a query with a term absent from the
    corpus matches nothing. One extra count in the existing per-doc
    aggregate, no extra shuffle.

    ``method`` may also be a SEQUENCE of methods (``("bm25", "tfidf")``):
    every method is scored off ONE postings build / ONE df table / ONE
    per-(query, doc) aggregate — each term score is one more codegen
    column over rows the single-method path already aggregates — and the
    result gains a leading ``method`` column. Two separate calls pay the
    corpus tokenize+explode once per call; Catalyst holds no common
    subexpressions across union children, so this is the one-pass shape.

    ``stats``: a precomputed :func:`corpus_stats` frame for the corpus
    path — skips the second text-column scan when the caller probes the
    same corpus repeatedly (the index path never needs it)."""
    if (corpus is None) == (index is None):
        raise ValueError("pass exactly one of corpus= / index=")
    if index is not None and stats is not None:
        raise ValueError("stats= only applies to the corpus path — the "
                         "index carries its own scalars")
    multi = not isinstance(method, str)
    methods = tuple(method) if multi else (method,)
    for m in methods:
        if m not in ("bm25", "tfidf"):
            raise ValueError(f"unknown method {m!r}")
    if len(set(methods)) != len(methods):
        raise ValueError(f"duplicate methods {methods!r}")

    qt = queries.select(
        F.col(query_id).alias("query_id"),
        F.explode(tokens_expr(F.col(query_text))).alias("term"),
    ).distinct()
    # the query vocabulary is tiny by contract (keyword queries) — collect
    # it once so the corpus scan gets LITERAL predicates (doc prefilter +
    # partition pruning), not a join it can't push below the explode
    terms = [r[0] for r in qt.select("term").distinct().collect()]
    if not terms:
        # all query texts NULL/blank: nothing can match — skip the corpus
        # scan entirely (a zero-element F.array() prefilter would be an
        # array<void> coercion hazard and a degenerate plan at best)
        empty = _empty_ranking(
            queries, query_id,
            corpus if corpus is not None else index.postings,
            corpus_id if corpus is not None else "doc_id")
        if multi:
            empty = empty.select(
                F.lit(methods[0]).alias("method"), "*")
        return empty

    if corpus is not None:
        post = build_postings(corpus, corpus_id, corpus_text, vocab=terms)
        if stats is None:
            stats = corpus_stats(corpus, corpus_text)
    else:
        post = index.pruned(terms).drop("term_bucket", "positions")
        stats = index.stats
    stats = stats.select("n", "avgdl")  # the scoring scalars

    # post feeds BOTH the df aggregate and the scoring join — Catalyst
    # shares no subtree across them, so without this the vocab-pruned
    # postings build (the corpus tokenize+explode on the corpus path) ran
    # twice per call (r14). Vocab-pruned postings are bounded by the query
    # vocabulary, the natural materialization point; a lazy local
    # checkpoint owned by this call (the rule: ops/util.py Checkpointer).
    post = post.localCheckpoint(eager=False)

    df_tbl = post.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("df"))
    qdf = qt.join(df_tbl, "term")  # vocab-sized; broadcast onto postings
    scored_terms = post.join(F.broadcast(qdf), "term").crossJoin(
        F.broadcast(stats))

    def _term_score(m: str) -> Column:
        if m == "bm25":
            return _bm25_term_score(
                F.col("tf"), F.col("df"), F.col("dl"), F.col("n"),
                F.col("avgdl"), k1, b)
        return _tfidf_term_score(F.col("tf"), F.col("df"), F.col("n"))

    scored = scored_terms.select(
        "query_id", F.col("doc_id").alias("neighbor_id"),
        *[_term_score(m).alias(f"_s{i}") for i, m in enumerate(methods)],
    ).groupBy("query_id", "neighbor_id").agg(
        *[F.sum(f"_s{i}").alias(f"_sum{i}") for i in range(len(methods))],
        F.count(F.lit(1)).alias("_matched"),
    )
    if require_all_terms:
        # per-query term counts are vocab-sized — broadcast the target in
        n_terms = qt.groupBy("query_id").agg(
            F.count(F.lit(1)).alias("_needed"))
        scored = scored.join(F.broadcast(n_terms), "query_id").filter(
            F.col("_matched") == F.col("_needed")).drop("_needed")
    scored = scored.drop("_matched")
    if multi:
        # fan the per-method sums into (method, score) rows AFTER the
        # per-(query, doc) aggregate — a narrow explode of already-reduced
        # rows, so the postings join/aggregate (the corpus-sized work)
        # runs exactly once however many methods score
        scored = scored.select(
            "query_id", "neighbor_id",
            F.explode(F.array(*[
                F.struct(F.lit(m).alias("method"),
                         F.col(f"_sum{i}").alias("score"))
                for i, m in enumerate(methods)])).alias("_e"),
        ).select("query_id", "neighbor_id", "_e.method", "_e.score")
        part_keys = ["method", "query_id"]
    else:
        scored = scored.withColumnRenamed("_sum0", "score")
        part_keys = ["query_id"]
    if round_scores is not None:
        scored = scored.withColumn("score", F.round("score", round_scores))

    # Salted two-stage top-k: local k per (query, salt) bounds the global
    # window's input to k*n_salts rows per query — with a handful of
    # queries a single per-query window would funnel every scored row
    # through that many reducers (ops/pq.py's running-top-k, in SQL form).
    order = [F.col("score").desc(), F.col("neighbor_id")]
    salt = F.pmod(F.xxhash64("neighbor_id"), F.lit(n_salts))
    pruned = scored.withColumn("_lr", F.row_number().over(
        Window.partitionBy(*part_keys, salt).orderBy(*order))
    ).filter(F.col("_lr") <= k).drop("_lr")
    w = Window.partitionBy(*part_keys).orderBy(*order)
    out = pruned.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k)
    if multi:
        out = out.select(
            "method", "query_id", "neighbor_id", "score", "rank")
    return out


class LexicalIndexStore:
    """Incremental inverted index across arriving batches — the streaming
    counterpart of :func:`build_lexical_index`, same design family (and
    the same (seq, batch_id)-committed protocol) as
    ``dedup.LineDedupStore`` / ``packing.PackingStore``: each batch's
    postings land under ``<path>/postings/batch=<seq>/term_bucket=*/``
    with mode OVERWRITE, its exact-merge scalars (n, dl_sum) under
    ``<path>/stats/batch=<seq>/``, and the seq+batch_id commit is an
    atomic rename. Both crash windows hold: a retry that died BEFORE the
    commit overwrites its own orphaned dirs (history reads filter
    ``batch < seq``, so orphans are never visible); a retry that repeats
    the LAST committed ``batch_id`` re-runs under its ORIGINAL seq and
    overwrites its dirs with identical rows (the posting build is
    deterministic), so at-least-once delivery never double-counts a
    document. Caller contract, as for every store in this repo: batch doc
    ids are disjoint from already-indexed ids (enforceable upstream by an
    anti-join against the store's ids).

    Scale: per batch, ONE tokenize+explode over the batch only — indexed
    history is never rescanned. Probes read the whole store as one
    parquet root where ``batch`` and ``term_bucket`` are both partition
    columns, so the :meth:`LexicalIndex.pruned` literal bucket predicates
    keep pruning. A long stream accumulates one dir per batch —
    :meth:`compact` folds everything strictly BEFORE the last committed
    batch into ``batch=0`` (the last batch dir is preserved verbatim: it
    is the post-commit replay window, and folding it would double-count
    a replayed batch's rows)."""

    def __init__(
        self,
        spark,
        path: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        n_buckets: int | None = None,
        positions: bool | None = None,
    ):
        import glob
        import json
        import os

        self.spark = spark
        self.path = path.rstrip("/")
        self.id_col = id_col
        self.text_col = text_col
        os.makedirs(f"{self.path}/postings", exist_ok=True)
        os.makedirs(f"{self.path}/stats", exist_ok=True)
        # layout config (n_buckets, positions) is a property of the DATA
        # on disk, not of the reopening process: persist it on FIRST
        # construction of a fresh store and adopt the persisted values
        # when the caller omits the args (restart-with-defaults is the
        # expected crash-recovery mode — reopening a positional store as
        # tf-only would silently NULL phrase probes / destroy positions
        # at the next compact()). An EXPLICIT arg that conflicts with the
        # persisted layout raises instead of being silently overridden,
        # and a populated store with no _meta (pre-_meta layout) requires
        # explicit args rather than freezing today's defaults over
        # yesterday's unknown layout.
        meta_f = os.path.join(self.path, "_meta")
        if os.path.exists(meta_f):
            with open(meta_f) as fh:
                meta = json.load(fh)
            for arg, key in ((n_buckets, "n_buckets"),
                             (positions, "positional")):
                if arg is not None and arg != meta[key]:
                    raise ValueError(
                        f"LexicalIndexStore at {self.path} was built with "
                        f"{key}={meta[key]}; got {key}={arg}. The on-disk "
                        "layout is fixed at creation — omit the arg to "
                        "adopt it, or rebuild the store to change it.")
            self.n_buckets = int(meta["n_buckets"])
            self.positional = bool(meta["positional"])
        else:
            populated = (glob.glob(f"{self.path}/postings/batch=*")
                         or glob.glob(f"{self.path}/.old-postings-*"))
            if populated and (n_buckets is None or positions is None):
                raise ValueError(
                    f"LexicalIndexStore at {self.path} has postings but "
                    "no _meta (pre-_meta layout): pass n_buckets= and "
                    "positions= matching how it was built.")
            self.n_buckets = 64 if n_buckets is None else n_buckets
            self.positional = False if positions is None else positions
            fd_meta = f"{meta_f}.tmp-{os.getpid()}"
            with open(fd_meta, "w") as fh:
                json.dump({"n_buckets": self.n_buckets,
                           "positional": self.positional}, fh)
            os.replace(fd_meta, meta_f)
        # run crash recovery at construction, not just at first READ: a
        # restarted stream may ingest before reading, and a batch written
        # into a fresh empty root would mask the .old-* history forever
        for sub in ("postings", "stats"):
            self._restore_if_needed(sub)

    def _state(self) -> tuple[int, str | None]:
        import os

        f = os.path.join(self.path, "_seq")
        if not os.path.exists(f):
            return 0, None
        with open(f) as fh:
            parts = fh.read().split("\n")
        seq = int(parts[0].strip() or 0)
        bid = parts[1] if len(parts) > 1 and parts[1] != "" else None
        return seq, bid

    def _commit_seq(self, seq: int, batch_id=None) -> None:
        import os
        import tempfile

        fd, tmp = tempfile.mkstemp(dir=self.path)
        with os.fdopen(fd, "w") as fh:
            fh.write(str(seq))
            if batch_id is not None:
                fh.write(f"\n{batch_id}")
        os.replace(tmp, os.path.join(self.path, "_seq"))

    def ingest_batch(self, docs: DataFrame, batch_id=None) -> None:
        """Index one batch and commit. ``batch_id``: stable delivery id
        (foreachBatch passes its epoch id); a repeat of the last committed
        one re-runs under its original seq — the post-commit replay
        guarantee. Omit only if the caller never re-delivers."""
        for sub in ("postings", "stats"):
            self._restore_if_needed(sub)
        seq, last_bid = self._state()
        if (batch_id is not None and last_bid is not None
                and str(batch_id) == last_bid and seq > 0):
            seq -= 1  # post-commit replay: re-run under the original seq
        post = build_postings(
            docs, self.id_col, self.text_col, positions=self.positional,
        ).withColumn(
            "term_bucket", term_bucket(F.col("term"), self.n_buckets))
        post.write.mode("overwrite").partitionBy("term_bucket").parquet(
            f"{self.path}/postings/batch={seq}")
        docs.select(_dl_expr(self.text_col).alias("dl")).agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.coalesce(F.sum("dl"), F.lit(0.0)).alias("dl_sum"),
        ).coalesce(1).write.mode("overwrite").parquet(
            f"{self.path}/stats/batch={seq}")
        self._commit_seq(seq + 1, batch_id)

    def _restore_if_needed(self, sub: str) -> None:
        """Crash recovery: a death inside compact()'s two-rename window
        leaves the full history only under ``.old-<sub>-*`` — restore the
        newest (the LineDedupStore._history pattern). When the root IS
        populated, any ``.old-<sub>-*`` left behind is the post-swap crash
        window's leftover copy — sweep it, so stale copies neither
        accumulate nor compete (by mtime) with a future real restore."""
        import glob
        import os
        import shutil

        root = f"{self.path}/{sub}"
        olds = sorted(glob.glob(f"{self.path}/.old-{sub}-*"),
                      key=os.path.getmtime)
        if not glob.glob(f"{root}/batch=*"):
            if olds:
                shutil.rmtree(root, ignore_errors=True)
                os.rename(olds[-1], root)
                olds = olds[:-1]
        for stale in olds:
            if glob.glob(f"{root}/batch=*"):
                shutil.rmtree(stale, ignore_errors=True)

    def _read_root(self, sub: str) -> DataFrame:
        """All batch dirs of ``sub`` with the explicit schema (an all-blank
        batch writes zero data files — schema inference would die), after
        :meth:`_restore_if_needed`."""
        root = f"{self.path}/{sub}"
        self._restore_if_needed(sub)
        schema = (
            LexicalIndex.postings_schema(self.positional) + ", batch int"
            if sub == "postings" else "n double, dl_sum double, batch int"
        )
        return self.spark.read.schema(schema).parquet(root)

    def as_index(self) -> LexicalIndex:
        """The committed store as a probe-ready :class:`LexicalIndex`
        (orphaned in-flight dirs pruned by the ``batch < seq`` partition
        filter; scalars recombined exactly from the per-batch sums)."""
        seq, _ = self._state()
        if seq == 0:
            raise ValueError("empty LexicalIndexStore")
        post = self._read_root("postings").filter(
            F.col("batch") < seq).drop("batch")
        stats = self._read_root("stats").filter(
            F.col("batch") < seq
        ).agg(
            F.sum("n").alias("n"),
            (F.sum("dl_sum") / F.sum("n")).alias("avgdl"),
            F.sum("dl_sum").alias("dl_sum"),
        )
        return LexicalIndex(post, stats, self.n_buckets, self.positional)

    def compact(self, min_run: int = 4, full: bool = False) -> None:
        """Fold committed batch dirs strictly BEFORE the last one — the
        last committed dir (the post-commit replay window) and any
        orphaned in-flight dir are preserved verbatim. SINGLE-WRITER op,
        between batches (foreachBatch is sequential).

        Fold SELECTION is size-tiered (``_store_compact.tiered_groups``,
        the LSM/STCS shape): eligible dirs group into similar-size runs,
        and only runs with >= ``min_run`` members fold,
        each into the smallest batch id of its run. Small fresh
        batches fold into a medium run, ``min_run`` medium runs fold into
        a large one — so one compact() call's I/O is bounded by the tier
        that is ready, NOT by total index size, and amortized rewrite
        over a stream's life is O(N log N) postings instead of the
        fold-everything Theta(N^2/cadence) the r10 measurement showed
        (walls 2.0 -> 3.6 s monotone). ``full=True`` restores the
        everything-into-one-dir policy (a final freeze before handing
        the store to read-only probes).

        Crash-safe the LineDedupStore.compact way: the NEW root — folded
        dirs plus the preserved dirs (hardlinked, metadata-only: parquet
        files are immutable), so no state is ever split across two roots
        — is staged under ``.compact-<sub>-*``, then swapped in via two
        renames; a death between them leaves the full history under
        ``.old-<sub>-*``, which :meth:`_read_root` restores on next
        access (stale staging dirs may remain to sweep). Committed data
        is never deleted before its replacement is fully in place."""
        import glob
        import os
        import uuid

        from graflo_spark.ops._store_compact import (
            dir_bytes, fold_plan, link_tree, swap_in)

        seq, _ = self._state()
        last = seq - 1  # the replay-window batch
        if seq < 2:
            return  # nothing strictly before the replay window
        # fold plan comes from the postings sizes (stats dirs are tiny)
        # and applies to both subs, so their batch layouts stay aligned
        post_root = f"{self.path}/postings"
        sizes = {
            int(d.rsplit("=", 1)[1]): dir_bytes(d)
            for d in glob.glob(f"{post_root}/batch=*")
            if int(d.rsplit("=", 1)[1]) < last
        }
        groups = fold_plan(sizes, min_run=min_run, full=full)
        if not groups:
            return
        for sub in ("postings", "stats"):
            root = f"{self.path}/{sub}"
            vals = sorted(int(d.rsplit("=", 1)[1])
                          for d in glob.glob(f"{root}/batch=*"))
            src = self._read_root(sub)
            staging = f"{self.path}/.compact-{sub}-{uuid.uuid4().hex}"
            folded_ids: set[int] = set()
            wrote = False
            for group in groups:
                present = [v for v in group if v in vals]
                if len(present) < 2:
                    continue
                folded = src.filter(
                    F.col("batch").isin(present)).drop("batch")
                target = min(present)
                if sub == "stats":
                    folded.agg(
                        F.sum("n").alias("n"),
                        F.sum("dl_sum").alias("dl_sum"),
                    ).coalesce(1).write.parquet(f"{staging}/batch={target}")
                else:
                    folded.write.partitionBy("term_bucket").parquet(
                        f"{staging}/batch={target}")
                folded_ids.update(present)
                wrote = True
            if not wrote:
                continue
            os.makedirs(staging, exist_ok=True)
            for v in vals:
                if v not in folded_ids:
                    link_tree(f"{root}/batch={v}", f"{staging}/batch={v}")
            swap_in(root, staging,
                    f"{self.path}/.old-{sub}-{uuid.uuid4().hex}")


def rrf_fuse(
    results: list[DataFrame],
    k: int = 10,
    rrf_k: int = 60,
    round_scores: int | None = 6,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009) — the
    standard hybrid-search combiner: given per-system top-k rankings
    ``(query_id, neighbor_id, rank)`` (e.g. one from :func:`bm25_topk`,
    one from the dense ANN family), score each candidate
    ``sum over systems of 1 / (rrf_k + rank)`` and re-rank. rrf_k=60 is
    the published constant. A doc absent from a system's list simply
    contributes nothing (the standard treatment).

    Inputs are already top-k-bounded per query — k*|systems| rows per
    query — so the final window needs no salting stage; ranking orders by
    the rounded score (ties by id), the module's determinism discipline.
    Returns ``(query_id, neighbor_id, score, rank)``."""
    if not results:
        raise ValueError("rrf_fuse needs at least one ranking")
    scored = None
    for r in results:
        part = r.select(
            "query_id", "neighbor_id",
            (F.lit(1.0) / (F.lit(float(rrf_k)) + F.col("rank"))).alias("s"),
        )
        scored = part if scored is None else scored.unionByName(part)
    fused = scored.groupBy("query_id", "neighbor_id").agg(
        F.sum("s").alias("score"))
    if round_scores is not None:
        fused = fused.withColumn("score", F.round("score", round_scores))
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id"))
    return fused.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k)


def phrase_topk(
    queries: DataFrame,
    corpus: DataFrame | None = None,
    k: int = 10,
    *,
    index: LexicalIndex | None = None,
    query_id: str = "query_id",
    query_text: str = "text",
    corpus_id: str = "doc_id",
    corpus_text: str = "text",
    n_salts: int = 32,
) -> DataFrame:
    """Exact PHRASE search: rank documents by how many times the query's
    tokens occur CONSECUTIVELY in order (the quoted-string query next to
    BM25's OR and ``require_all_terms``'s AND). Returns
    ``(query_id, neighbor_id, score, rank)`` with ``score`` = the phrase
    occurrence count (an exact integer — no rounding discipline needed);
    docs without a full occurrence are absent; ties by doc id.

    The standard positional-index algorithm: a phrase of terms
    t0..t(m-1) occurs at position p iff every ti occurs at p+i —
    equivalently, the intersection of each term's position set shifted
    left by its offset. Duplicate terms in the phrase are real
    constraints ("b b" needs b at p AND p+1), so the phrase list keeps
    duplicates (unlike the BM25 vocabulary).

    Exactly one of ``corpus`` / ``index`` (bm25_topk's contract): with a
    corpus, position arrays are built in-flight; with a POSITIONAL
    :class:`LexicalIndex` (``build_lexical_index(..., positions=True)``)
    the probe reads only the phrase vocabulary's ``term_bucket``
    partitions — repeated phrase queries never rescan the corpus.

    100 TB shape: the same ``arrays_overlap``-prefiltered single corpus
    pass as :func:`build_postings`, but keeping per-(doc, term) POSITION
    arrays (sorted; bounded by the doc's term frequency); the per-doc
    verify folds m position arrays with ``array_intersect`` — all array
    Column ops, no Python — and the top-k runs salted two-stage."""
    if (corpus is None) == (index is None):
        raise ValueError("pass exactly one of corpus= / index=")
    if index is not None and not index.positional:
        raise ValueError(
            "phrase_topk needs a positional index — build it with "
            "build_lexical_index(..., positions=True)")
    qterms = queries.select(
        F.col(query_id).alias("query_id"),
        F.posexplode(tokens_expr(F.col(query_text))).alias("idx", "term"),
    )
    phrase_len = qterms.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("_m"))
    terms = [r[0] for r in qterms.select("term").distinct().collect()]
    if not terms:
        # all query texts NULL/blank (see bm25_topk's early return)
        return _empty_ranking(
            queries, query_id,
            corpus if corpus is not None else index.postings,
            corpus_id if corpus is not None else "doc_id")

    if corpus is not None:
        toks = corpus.select(
            F.col(corpus_id).alias("doc_id"),
            tokens_expr(F.col(corpus_text)).alias("toks"),
        ).filter(F.arrays_overlap(
            "toks", F.array(*[F.lit(t) for t in sorted(set(terms))])))
        positions = toks.select(
            "doc_id", F.posexplode("toks").alias("pos", "term"),
        ).filter(F.col("term").isin(sorted(set(terms)))).groupBy(
            "doc_id", "term"
        ).agg(F.sort_array(F.collect_list("pos")).alias("positions"))
    else:
        positions = index.pruned(terms).select(
            "doc_id", "term", "positions")

    # one row per (query, phrase slot, matching doc): shift the slot's
    # positions left by its offset, then fold-intersect per (query, doc)
    hits = positions.join(F.broadcast(qterms), "term").select(
        "query_id", "doc_id", "idx",
        F.transform("positions", lambda p: p - F.col("idx")).alias("sh"),
    )
    per_doc = hits.groupBy("query_id", "doc_id").agg(
        F.count(F.lit(1)).alias("_slots"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "sh"))),
                lambda e: e["sh"],
            ),
            F.lit(None).cast("array<int>"),
            lambda acc, arr: F.when(acc.isNull(), arr).otherwise(
                F.array_intersect(acc, arr)),
        ).alias("_common"),
    )
    scored = per_doc.join(F.broadcast(phrase_len), "query_id").filter(
        # every slot matched something (duplicate terms produce one
        # positions row per SLOT via the join, so _slots == m iff every
        # phrase position has a posting) and at least one aligned start
        (F.col("_slots") == F.col("_m")) & (F.size("_common") > 0)
    ).select(
        "query_id", F.col("doc_id").alias("neighbor_id"),
        F.size("_common").cast("double").alias("score"),
    )
    order = [F.col("score").desc(), F.col("neighbor_id")]
    salt = F.pmod(F.xxhash64("neighbor_id"), F.lit(n_salts))
    pruned = scored.withColumn("_lr", F.row_number().over(
        Window.partitionBy("query_id", salt).orderBy(*order))
    ).filter(F.col("_lr") <= k).drop("_lr")
    w = Window.partitionBy("query_id").orderBy(*order)
    return pruned.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k)

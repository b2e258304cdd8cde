"""Deterministic sampling and dataset splitting for training pipelines.

`df.sample()` is seed-stable only for a fixed partitioning — repartition the
input (or rerun after AQE picks a different layout) and the sample changes.
Training-data pipelines need sampling that is a pure function of the ROW, so
the same document lands in the same split on every run, on any cluster
layout, and a re-ingested corpus reproduces its train/val/test membership
exactly. Everything here keys on the package's 60-bit md5 of
``id <0x1f> salt`` (``ops/util.md5_bits``): one hash per row, no shuffle,
no state — and any engine with md5 reproduces membership bit for bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graflo_spark.ops.util import md5_bits

# hash buckets per unit of rate resolution: rates are exact to 1e-6
_RESOLUTION = 1_000_000


def _bucket(id_col: str, salt: str) -> F.Column:
    """Stable bucket in [0, _RESOLUTION) — a pure function of (id, salt)."""
    h = md5_bits(
        F.concat_ws(chr(31), F.col(id_col).cast("string"), F.lit(salt)), 15)
    return F.pmod(h, F.lit(_RESOLUTION))


def hash_sample(
    df: DataFrame, id_col: str, rate: float, salt: str = "sample",
) -> DataFrame:
    """Keep ~``rate`` of rows, deterministically by id: the same id is kept
    or dropped on EVERY run regardless of partitioning, cluster size, or
    Spark version. Different ``salt`` values give independent samples."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0, 1], got {rate}")
    # round, not truncate: int(0.7 * 1e6) is 699999 under binary floats
    return df.filter(_bucket(id_col, salt) < round(rate * _RESOLUTION))


def hash_split(
    df: DataFrame,
    id_col: str,
    weights: dict[str, float],
    salt: str = "split",
    split_col: str = "split",
) -> DataFrame:
    """Assign every row to exactly one named split (e.g. train/val/test) by
    hash range — disjoint, exhaustive, and reproducible: membership is a
    pure function of (id, salt), so re-running on a regrown corpus keeps
    every previously-seen id in its original split (the property that
    prevents test-set leakage across dataset versions). Weights must sum to
    1 (±1e-6). Returns ``df`` with ``split_col`` added."""
    if not weights:
        raise ValueError("at least one split required")
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-6:
        raise ValueError(f"split weights must sum to 1, got {total}")
    b = _bucket(id_col, salt)
    expr = None
    acc = 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name]
        # round, not truncate: float accumulation would drift boundaries
        # one bucket low (int(0.7*1e6) == 699999) and break the exact-to-
        # 1e-6 rate contract
        cond = b < round(acc * _RESOLUTION)
        expr = (
            F.when(cond, F.lit(name)) if expr is None
            else expr.when(cond, F.lit(name))
        )
    last = F.lit(names[-1])
    out = last if expr is None else expr.otherwise(last)
    return df.withColumn(split_col, out)


def select_to_token_budget(
    df: DataFrame,
    id_col: str,
    token_col: str,
    budget: int,
    score_col: str | None = None,
    approx_buckets: int | None = None,
    cuts: list[float] | None = None,
) -> DataFrame:
    """Quality-ranked corpus selection under a token budget: keep the
    best-scoring documents whose CUMULATIVE token count fits ``budget`` —
    the data-selection step between scoring and packing (train on the best
    N-token subset of a scored corpus). Ordering is (score desc, id asc);
    with ``score_col=None`` it degrades to smallest-id-first truncation.
    A document is kept iff the running total INCLUDING it is <= budget
    (documents larger than the remaining budget are skipped only if they
    appear after the cut — classic prefix semantics, exactly replayable
    in SQL as ``SUM(tokens) OVER (ORDER BY score DESC, id) <= budget``).

    Two modes, the ccnet-buckets pattern:
    - exact (default): ONE global running-sum window — a single-partition
      sort, the verification path; correct at any size that fits a sort
      spill, and the mode a SQL oracle replays bit-for-bit.
    - ``approx_buckets=N``: the 100 TB path — ONE aggregate computes
      per-score-bucket token masses over N quantile-spaced buckets, the
      driver picks the lowest score bucket whose prefix mass still fits,
      and the selection is a map-side ``score >= cutoff`` filter (no
      global sort). Undershoots the budget by at most one bucket's mass;
      ties at the cutoff are all kept (deterministic, order-free).

    ``cuts`` supplies the descending score thresholds explicitly,
    skipping the sketch pass — the replay mode (the ccnet-buckets
    pattern): freeze one corpus's quantile literals and select against
    them on any engine, or re-run a selection bit-for-bit. Implies the
    approx path; everything after the sketch is identical.
    """
    from pyspark.sql import Window as W

    score = (F.col(score_col) if score_col is not None
             else F.lit(0.0)).cast("double")
    if approx_buckets or cuts is not None:
        if cuts is None:
            qs = [i / approx_buckets for i in range(1, approx_buckets)]
            cuts = df.select(
                F.percentile_approx(score, qs, 10_000).alias("q")
            ).first()["q"] or []
        cuts = sorted({float(c) for c in cuts}, reverse=True)
        # ONE aggregate computes every threshold's token mass (conditional
        # sums over one scan); the prefix pick is a driver loop over the
        # tiny result
        masses = []
        if cuts:
            row = df.agg(*[
                F.sum(F.when(score >= F.lit(float(c)),
                             F.col(token_col).cast("long"))).alias(f"m{i}")
                for i, c in enumerate(cuts)
            ]).first()
            masses = [row[f"m{i}"] or 0 for i in range(len(cuts))]
        chosen = None
        for c, mass in zip(cuts, masses):  # highest score bucket first
            if mass <= budget:
                chosen = c
            else:
                break
        if chosen is None:
            # even the top bucket overshoots: fall back to exact over the
            # top bucket only (bounded input) — never silently overspend
            top = cuts[0] if cuts else None
            scoped = (df.filter(score >= F.lit(float(top)))
                      if top is not None else df)
            return select_to_token_budget(
                scoped, id_col, token_col, budget, score_col)
        return df.filter(score >= F.lit(float(chosen)))
    w = W.orderBy(score.desc(), F.col(id_col)).rowsBetween(
        W.unboundedPreceding, W.currentRow)
    return (
        df.withColumn("__cum", F.sum(F.col(token_col).cast("long")).over(w))
        .filter(F.col("__cum") <= budget)
        .drop("__cum")
    )


def temperature_weights(
    counts: dict[str, int], alpha: float = 0.3
) -> dict[str, float]:
    """Temperature-based mixing weights: w_i proportional to n_i^alpha
    (the mT5/XLM-R alpha-sampling rule). ``alpha=1`` is proportional
    sampling (big corpora dominate), ``alpha=0`` is uniform (every source
    equal), and the usual ``alpha~0.2-0.5`` boosts low-resource sources
    without drowning the large ones. Feed the result to
    :func:`mix_corpora`."""
    if not counts:
        raise ValueError("at least one source required")
    if any(n <= 0 for n in counts.values()):
        raise ValueError("source counts must be positive")
    raw = {k: float(n) ** alpha for k, n in counts.items()}
    total = sum(raw.values())
    return {k: v / total for k, v in raw.items()}


def mix_corpora(
    sources: dict[str, DataFrame],
    weights: dict[str, float],
    id_col: str,
    salt: str = "mix",
    source_col: str = "source_name",
) -> DataFrame:
    """Blend corpora to target proportions by deterministic downsampling —
    the dataset-mixing step of a pretraining pipeline (e.g. 70% web, 20%
    code, 10% books). Finds the largest total size achievable WITHOUT
    upsampling (T = min over sources of n_i / w_i) and hash-samples each
    source at rate ``T * w_i / n_i``; repetition beyond a source's size is
    an epoch/training-loop concern, not a mixing one. Membership is a pure
    function of (id, salt) per source, so the blend is reproducible on any
    cluster layout. Costs one count() aggregate per source (metadata-cheap
    for parquet-backed frames; a COMPUTED source re-runs its whole lineage
    here — checkpoint such inputs first, as
    ``pipeline.prepare_training_data`` does its annotated frame) before the
    single filtered union; adds ``source_col``.

    Schemas must be union-compatible; proportions are accurate to the
    hash_sample resolution (1e-6) in expectation."""
    if set(sources) != set(weights):
        raise ValueError("sources and weights must have identical keys")
    total_w = sum(weights.values())
    if total_w <= 0:
        raise ValueError("weights must sum to a positive value")
    norm = {k: w / total_w for k, w in weights.items()}
    counts = {k: df.count() for k, df in sources.items()}
    if any(n == 0 for n in counts.values()):
        raise ValueError(
            f"empty source(s): {[k for k, n in counts.items() if n == 0]}"
        )
    target_total = min(counts[k] / norm[k] for k in sources if norm[k] > 0)
    parts = []
    for name, df in sources.items():
        rate = min(1.0, target_total * norm[name] / counts[name])
        parts.append(
            hash_sample(df, id_col, rate, salt=f"{salt}:{name}").withColumn(
                source_col, F.lit(name)
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out

"""End-to-end training-data pipeline: funnel accounting, stage precedence,
PII scrub on survivors only, per-split packing isolation."""

from pyspark.sql import functions as F

from graflo_spark.ops.pipeline import (
    PipelineConfig,
    annotate,
    prepare_training_data,
    survivors,
    training_funnel,
)


def _corpus(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        # 0/1: same canonical URL -> 1 is a url_dup
        (0, base + " zero", "https://www.site.com/a/"),
        (1, "totally different content that is long enough here", "site.com/a"),
        # 2: garbage (fails quality: no stopwords, short)
        (2, "zzz qqq", "site.com/b"),
        # 3/4: exact duplicates modulo whitespace -> 4 is exact_dup
        (3, "many hands make light work and practice is what makes perfect",
         "site.com/c"),
        (4, "  many hands make light work and practice is what makes perfect ",
         "site.com/d"),
        # 5: near-dup of 0 (one word appended) -> loses the tie to min-id 0
        (5, base + " zero extra", "site.com/e"),
        # 6: clean unique survivor
        (6, "a completely unrelated clean document with the usual stopwords in it",
         "site.com/f"),
        # 7: contaminated (contains the benchmark question verbatim)
        (7, "prefix words what is the capital of france suffix words to pad "
            "the quality of this document", "site.com/g"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text", "url"])


def _bench(spark):
    return spark.createDataFrame(
        [(0, "what is the capital of france")], ["qid", "text"]
    )


def _cfg():
    return PipelineConfig(
        url_col="url", min_tokens=5, decontam_ngram=5,
        near_dup_threshold=0.7, chunk_tokens=8,
        splits={"train": 0.5, "val": 0.5},
    )


def test_annotate_funnel_and_precedence(spark):
    ann = annotate(_corpus(spark), _bench(spark), _cfg())
    rows = {r["doc_id"]: r for r in ann.collect()}
    assert len(rows) == 8  # nothing filtered by annotate
    assert rows[1]["drop_stage"] == "url_dup"  # loses canonical-URL min-id
    assert rows[2]["drop_stage"] == "quality"
    assert rows[7]["drop_stage"] == "decontam"
    assert rows[4]["drop_stage"] == "exact_dup"
    assert rows[5]["drop_stage"] == "near_dup"
    assert rows[0]["drop_stage"] is None and rows[6]["drop_stage"] is None
    assert rows[3]["drop_stage"] is None

    funnel = {r["stage"]: r["n_docs"] for r in training_funnel(ann).collect()}
    assert funnel == {"url_dup": 1, "quality": 1, "decontam": 1,
                      "exact_dup": 1, "near_dup": 1, "kept": 3}
    assert sum(funnel.values()) == 8  # every doc accounted exactly once


def test_prepare_training_data_end_to_end(spark):
    chunks, ann, funnel = prepare_training_data(
        _corpus(spark), _bench(spark), _cfg()
    )
    kept = survivors(ann)
    kept_ids = {r["doc_id"] for r in kept.collect()}
    assert kept_ids == {0, 3, 6}
    # packing covers every survivor's tokens, per split, chunks isolated
    spans = chunks.collect()
    assert {r["id"] for r in spans} == kept_ids
    by_split = {}
    for r in spans:
        by_split.setdefault(r["split"], set()).add(r["chunk_id"])
    split_of = {r["doc_id"]: r["split"] for r in kept.collect()}
    for r in spans:
        assert split_of[r["id"]] == r["split"]  # no cross-split chunk
    # funnel object matches a recount
    f = {r["stage"]: r["n_docs"] for r in funnel.collect()}
    assert f["kept"] == 3


def test_dedup_winners_come_from_prior_survivors(spark):
    """A doc dropped by an earlier gate must not win a duplicate group:
    its surviving twin would be dropped as a dup of a gone document and
    the content would vanish entirely."""
    text = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (0, text, "https://site.com/a"),     # url winner of /a
        (1, text, "site.com/a/"),            # url_dup (same canonical URL)
        (2, text + "  ", "site.com/b"),      # exact twin; must SURVIVE
        (3, text + " tail", "site.com/c"),   # near-dup; loses to survivor
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "url"])
    ann = annotate(docs, None, PipelineConfig(
        url_col="url", min_tokens=5, chunk_tokens=8, splits={"train": 1.0}))
    stages = {r["doc_id"]: r["drop_stage"] for r in ann.collect()}
    assert stages[1] == "url_dup"
    assert stages[0] is None  # min-id eligible exact winner
    assert stages[2] == "exact_dup"  # loses to 0, which survived
    assert stages[3] == "near_dup"
    # and when the would-be winner itself is url_dup'd, the twin survives
    rows2 = [
        (0, "an unrelated page that sits at the duplicated url address here",
         "https://site.com/a"),
        (1, text, "site.com/a/"),            # url_dup of 0 (min-id loses URL)
        (2, text + "  ", "site.com/b"),      # exact twin of 1 -> must survive
    ]
    ann2 = annotate(
        spark.createDataFrame(rows2, ["doc_id", "text", "url"]), None,
        PipelineConfig(url_col="url", min_tokens=5, chunk_tokens=8,
                       splits={"train": 1.0}))
    stages2 = {r["doc_id"]: r["drop_stage"] for r in ann2.collect()}
    assert stages2 == {0: None, 1: "url_dup", 2: None}


def test_exact_group_with_divergent_quality_keeps_one_member(spark):
    """Whitespace variants share a normalized fingerprint but can score
    different raw-text quality; the exact winner (min-id) and the cluster
    representative (max quality) must not disagree into dropping BOTH."""
    # extra internal spaces dilute punct_ratio across the 0.3 gate
    base = "good words here, with: some! punct? marks... and, more. yes"
    spaced = base.replace(" ", "   ")
    docs = spark.createDataFrame(
        [(1, base), (2, spaced)], ["doc_id", "text"]
    )
    ann = annotate(docs, None, PipelineConfig(
        min_quality=0.0, min_tokens=3, chunk_tokens=8,
        splits={"train": 1.0}))
    stages = {r["doc_id"]: r["drop_stage"] for r in ann.collect()}
    survivors_n = sum(1 for v in stages.values() if v is None)
    assert survivors_n == 1, stages  # exactly one copy of the content lives


def test_pipeline_without_url_or_bench(spark):
    docs = _corpus(spark).drop("url")
    cfg = PipelineConfig(min_tokens=5, chunk_tokens=8,
                         splits={"train": 1.0})
    ann = annotate(docs, None, cfg)
    stages = {r["doc_id"]: r["drop_stage"] for r in ann.collect()}
    assert "url_dup" not in set(stages.values())  # stage disabled
    assert "decontam" not in set(stages.values())
    assert stages[2] == "quality" and stages[4] == "exact_dup"


def test_url_winner_gated_on_later_stages(spark):
    """The URL winner is picked among docs passing the quality/decontam
    gates: if min-id in a URL group fails quality, an eligible twin wins
    and the content survives — losers are still charged url_dup."""
    good = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (0, "x", "https://site.com/a"),       # min-id but FAILS quality
        (1, good, "site.com/a/"),             # eligible -> must win the URL
        (2, "y", "site.com/a?utm_source=t"),  # also fails quality
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "url"])
    ann = annotate(docs, None, PipelineConfig(
        url_col="url", min_tokens=5, chunk_tokens=8, splits={"train": 1.0}))
    stages = {r["doc_id"]: r["drop_stage"] for r in ann.collect()}
    assert stages[1] is None, stages   # the eligible copy survives
    assert stages[0] == "url_dup"      # funnel still charges url first
    assert stages[2] == "url_dup"
    # whole group ineligible: fallback min-id wins, then falls at quality
    rows2 = [(0, "x", "site.com/b"), (1, "y", "site.com/b/")]
    ann2 = annotate(
        spark.createDataFrame(rows2, ["doc_id", "text", "url"]), None,
        PipelineConfig(url_col="url", min_tokens=5, chunk_tokens=8,
                       splits={"train": 1.0}))
    stages2 = {r["doc_id"]: r["drop_stage"] for r in ann2.collect()}
    assert stages2 == {0: "quality", 1: "url_dup"}


def test_lm_quality_gate_in_funnel(spark):
    """With max_cross_entropy set, gibberish (high LM cross-entropy under
    the corpus-slice model) is charged to the lm_quality stage; fluent
    docs survive; stage precedence (quality before lm_quality) holds;
    and the gate defaults OFF."""
    good = ("the quick brown fox jumps over the lazy dog and then "
            "the quick brown fox jumps over the lazy dog again")
    rows = [
        (0, good),                       # trains the LM (0 % 20 == 0)
        (1, good.replace("again", "once more yes")),  # fluent-ish
        (2, "zq xv qk jw zzkp vw qq lr mm nn oo pp"),  # gibberish
        (3, "x"),                        # fails token gate FIRST
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    cfg = PipelineConfig(min_quality=0.0, min_tokens=5, chunk_tokens=8,
                         splits={"train": 1.0}, max_cross_entropy=2.0,
                         lm_train_mod=20)
    ann = annotate(docs, None, cfg)
    stages = {r["doc_id"]: r["drop_stage"] for r in ann.collect()}
    assert stages[2] == "lm_quality"
    assert stages[3] == "quality"        # precedence: token gate first
    assert stages[0] is None or stages[0] in ("exact_dup", "near_dup")
    assert "__ce" not in ann.columns
    # default off: same corpus with no threshold keeps the gibberish
    ann2 = annotate(docs, None, PipelineConfig(
        min_quality=0.0, min_tokens=5, chunk_tokens=8,
        splits={"train": 1.0}))
    stages2 = {r["doc_id"]: r["drop_stage"] for r in ann2.collect()}
    assert stages2[2] != "lm_quality"


def test_substring_scrub_stage_cuts_repeated_runs(spark):
    """dedup_substring_k: verbatim k-token runs shared between KEPT,
    dissimilar documents are cut before packing (first occurrence spared),
    so the packed token total shrinks by exactly the cut tokens; with the
    stage off, totals include the repetition."""
    from graflo_spark.ops.pipeline import PipelineConfig, prepare_training_data

    boiler = "copyright notice all rights reserved do not redistribute"
    docs = spark.createDataFrame(
        [
            (0, f"{boiler} alpha beta gamma delta epsilon zeta"),
            (1, f"completely different body text here {boiler}"),
            (2, "an unrelated document with enough tokens to pass gates"),
        ],
        ["doc_id", "text"],
    )
    base_cfg = dict(min_quality=0.0, min_tokens=3,
                    splits={"train": 1.0}, chunk_tokens=64,
                    lsh_kwargs={"shingle_k": 3, "bands": 32})
    off_chunks, off_ann, _ = prepare_training_data(
        docs, None, PipelineConfig(**base_cfg))
    on_chunks, on_ann, _ = prepare_training_data(
        docs, None, PipelineConfig(**base_cfg, dedup_substring_k=8))
    off_tok = sum(r["doc_tok_end"] - r["doc_tok_start"]
                  for r in off_chunks.collect())
    on_tok = sum(r["doc_tok_end"] - r["doc_tok_start"]
                 for r in on_chunks.collect())
    # all three docs survive the doc-level funnel in both runs
    assert off_ann.filter(F.col("drop_stage").isNull()).count() == 3
    assert on_ann.filter(F.col("drop_stage").isNull()).count() == 3
    # the boilerplate run is 8 tokens; doc 0 keeps it, doc 1 loses it
    assert off_tok - on_tok == 8
    off_ann.unpersist(); on_ann.unpersist()


def test_pipeline_gopher_stage_and_line_scrub(spark):
    """gopher_rules=True adds its own funnel stage between quality and
    lm_quality; dedup_lines_delimiter scrubs duplicated lines from the
    survivor corpus before packing."""
    from graflo_spark.ops import pipeline as pl

    rows = [
        # passes everything (enough words + stopwords, no boilerplate)
        (0, " ".join(["the be to of and that have with words here"] * 6)
            + "\nnavigation menu footer"),
        # same stopword body (unique tail) but ALSO the duplicated line ->
        # survivor whose duplicate line must be scrubbed
        (1, " ".join(["the be to of and that have with other tail"] * 6)
            + "\nnavigation menu footer"),
        # fails gopher word count (short) but passes the base quality gate
        (2, "the be to of and that have with only a few words"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cfg = pl.PipelineConfig(
        min_quality=0.0, min_tokens=5, gopher_rules=True,
        dedup_lines_delimiter="\n", near_dup_threshold=0.99,
        splits={"train": 1.0}, chunk_tokens=64)
    chunks, annotated, funnel = pl.prepare_training_data(docs, None, cfg)
    stages = {r["stage"]: r["n_docs"] for r in funnel.collect()}
    assert stages.get("gopher") == 1          # doc 2, charged to gopher
    assert stages.get("kept") == 2
    kept_text = {r["doc_id"]: r["text"]
                 for r in pl.survivors(annotated).collect()}
    # the line scrub runs AFTER annotate (packing input), so check via the
    # pipeline's own scrub step
    from graflo_spark.ops.dedup import dedup_lines
    scrubbed = {r["doc_id"]: r["text"] for r in dedup_lines(
        pl.survivors(annotated).select("doc_id", "text")).collect()}
    assert "navigation menu footer" in scrubbed[0]
    assert "navigation menu footer" not in scrubbed[1]
    annotated.unpersist()
    assert chunks.count() > 0


def test_pipeline_stage_order_includes_gopher(spark):
    from graflo_spark.ops.pipeline import STAGES

    assert STAGES.index("quality") < STAGES.index("gopher") < STAGES.index(
        "lm_quality")


def test_pipeline_language_gate(spark):
    """allowed_langs keeps only documents whose lang_id prediction is in
    the list, charged to the 'lang' stage (after gopher, before
    lm_quality)."""
    from graflo_spark.ops import pipeline as pl

    rows = [
        (0, "the cat and the dog went to the house in the morning and "
            "that was good for the family with the children"),
        (1, "der hund und die katze ist nicht mit der maus und das haus "
            "ist mit den kindern und der familie nicht da"),
        (2, "le chat et le chien est dans la maison pour les enfants et "
            "la famille est pas dans le jardin que une"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cfg = pl.PipelineConfig(
        min_quality=0.0, min_tokens=3, allowed_langs=["en", "fr"],
        near_dup_threshold=0.99, splits={"train": 1.0}, chunk_tokens=64)
    annotated = pl.annotate(docs, None, cfg)
    stages = {r["doc_id"]: r["drop_stage"] for r in annotated.collect()}
    assert stages[0] is None
    assert stages[1] == "lang"     # German, not allowed
    assert stages[2] is None
    assert pl.STAGES.index("gopher") < pl.STAGES.index("lang") < \
        pl.STAGES.index("lm_quality")


def test_pipeline_empty_allowed_langs_drops_everything(spark):
    """allowed_langs=[] means NO language passes (only None disables the
    gate) — empty must not silently turn the gate off."""
    from graflo_spark.ops import pipeline as pl

    docs = spark.createDataFrame(
        [(0, "the cat and the dog went to the house in the morning and "
             "that was good for the family with the children")],
        "doc_id long, text string")
    cfg = pl.PipelineConfig(min_quality=0.0, min_tokens=3,
                            allowed_langs=[], splits={"train": 1.0})
    annotated = pl.annotate(docs, None, cfg)
    assert annotated.collect()[0]["drop_stage"] == "lang"


def test_pipeline_all_optional_stages_compose(spark):
    """Every optional stage enabled at once (the --gates configuration):
    gopher (custom stop list), language gate, LM gate, quality classifier,
    line scrub, substring scrub — funnel accounting stays exact and each
    stage charges the document it owns."""
    from graflo_spark.ops.pipeline import STAGES

    stops = ("alpha", "beta", "gamma", "delta")
    good = ("alpha beta word " * 4).strip()          # passes everything
    good2 = ("gamma delta item " * 4).strip()        # dissimilar survivor
    rows = [
        (0, good + " zero", "en", "s.com/a"),
        (1, good2 + " one", "en", "s.com/b"),
        (2, "zz", "en", "s.com/c"),                  # quality (tokens < 3)
        # passes gopher (alpha+beta) but lang_id predicts 'fr' (French
        # function words dominate) -> charged to the lang stage
        (3, "alpha beta le la les et est pour que une mot", "fr",
         "s.com/d"),
        (4, "nostops " * 12, "en", "s.com/e"),       # gopher (stop rule)
        (5, good + " zero", "en", "s.com/f"),        # exact dup of 0
        (6, None, "en", "s.com/g"),                  # quality (NULL)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang", "url"])
    cfg = PipelineConfig(
        url_col="url", min_quality=0.0, min_tokens=3,
        gopher_rules=True, gopher_min_words=2, gopher_stopwords=stops,
        allowed_langs=["en", "und"],
        max_cross_entropy=50.0,           # loose: machinery on, drops none
        clf_pos_filter="lang = 'en'", clf_min_prob=0.0, clf_train_mod=1,
        dedup_lines_delimiter="\n", dedup_substring_k=4,
        splits={"train": 1.0}, chunk_tokens=8,
    )
    chunks, annotated, funnel = prepare_training_data(docs, None, cfg)
    stages = {r["stage"]: r["n_docs"] for r in funnel.collect()}
    ann = {r["doc_id"]: r["drop_stage"] for r in annotated.collect()}
    annotated.unpersist()
    assert ann[2] == "quality" and ann[6] == "quality"
    assert ann[3] == "lang"
    assert ann[4] == "gopher"
    assert ann[5] == "exact_dup"
    assert ann[0] is None and ann[1] is None
    assert stages == {"kept": 2, "quality": 2, "lang": 1,
                      "gopher": 1, "exact_dup": 1}
    assert sum(stages.values()) == len(rows)
    # funnel stage names are all registered STAGES or 'kept'
    assert set(stages) - {"kept"} <= set(STAGES)
    assert chunks.count() > 0


def test_pipeline_c4_stage_cleans_and_charges(spark):
    """The C4 gate charges failing pages to 'c4' and survivors get the
    line-cleaned text; dedup still sees the original text (doc 3's
    javascript line does not break its exact-dup match with doc 4)."""
    good = ("Alpha beta gamma delta epsilon sentence here.\n" * 4).strip()
    rows = [
        (0, good, "s.com/a"),
        # page fails C4: only 1 of its 3 lines survives the line rules
        (1, "Good first line with enough words here.\nshort\n"
            "no terminal punctuation on this line at all", "s.com/b"),
        # survivor with one droppable line -> cleaned text loses it
        (2, "One decent sentence with many good words here.\n"
            "Enable javascript now with plenty of words today.\n"
            "Two decent sentence with many good words here.\n"
            "Six decent sentence with many good words here.", "s.com/c"),
        (3, good + "\nEnable javascript to continue reading this page.",
         "s.com/d"),
        (4, good + "\nEnable javascript to continue reading this page.",
         "s.com/e"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "url"])
    cfg = PipelineConfig(
        url_col="url", min_quality=0.0, min_tokens=3,
        c4_clean=True, c4_min_kept_lines=3,
        splits={"train": 1.0}, chunk_tokens=8,
    )
    annotated = annotate(docs, None, cfg)
    ann = {r["doc_id"]: r for r in annotated.collect()}
    assert ann[1]["drop_stage"] == "c4"
    assert ann[0]["drop_stage"] is None
    assert ann[2]["drop_stage"] is None
    assert "javascript" not in ann[2]["text"]          # cleaned survivor
    assert ann[2]["text"].count("\n") == 2             # 3 lines kept
    assert ann[1]["text"] == rows[1][1]                # dropped: original
    # 3 and 4 are exact dups ON ORIGINAL TEXT (both carry the js line);
    # the min-id winner survives and is cleaned, the loser charged
    assert ann[3]["drop_stage"] is None
    assert "javascript" not in ann[3]["text"]
    assert ann[4]["drop_stage"] == "exact_dup"
    funnel = {r["stage"]: r["n_docs"]
              for r in training_funnel(annotated).collect()}
    assert funnel == {"kept": 3, "c4": 1, "exact_dup": 1}

"""Text-analysis operators over the ``documents`` table (north-star
extension, SURVEY §2.C): length/quality statistics, token counting,
language identification, document fingerprinting.

The reference's only text-adjacent surface is "arbitrary C++ in map()";
the canonical MapReduce word_count is its integer twin ``number_count``
(``/root/reference/sample_apps/number_count/main.cpp:8-21``).  Everything
here is expressed with built-in string/array functions so it runs inside
whole-stage codegen — at 100 TB a row-at-a-time Python UDF on a text column
is the single most common pipeline mistake, costing 10-100× (see
``lang_id_chargram_pandas`` for the sanctioned Arrow-batched escape hatch).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import tokens
from ..sources import load_table

# Small stopword list shared by quality scoring and the oracle SQL.
STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")


def doc_length_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus statistics (count, exact char sums/averages)."""
    docs = load_table(spark, sf_dir, "documents")
    agg = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("_sum_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )
    return agg.select(
        "lang",
        "n_docs",
        F.col("_sum_chars").alias("sum_chars"),
        (F.col("_sum_chars").cast("double") / F.col("n_docs")).alias("avg_chars"),
        "min_chars",
        "max_chars",
    )


def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token accounting per document: whitespace tokens plus a BPE-ish
    regex token count (letter runs / digit runs / single punctuation — the
    pre-merge word-split BPE tokenizers start from)."""
    docs = load_table(spark, sf_dir, "documents")
    lowered = F.lower(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(F.split(lowered, " ")).alias("ws_tokens"),
        F.regexp_count(lowered, F.lit("[a-z]+|[0-9]+|[^a-z0-9\\s]")).alias(
            "bpe_ish_tokens"
        ),
    )


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score per document from length / stopword /
    punctuation signals (the classic pre-training corpus filter shape).

    All inputs to the score are exact integers; the score itself is a fixed
    arithmetic expression over them evaluated in identical order on the
    oracle side, then rounded to 6 dp.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n_tok = F.size(toks)
    stop_cnt = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    lowered = F.lower(F.col("text"))
    punct_cnt = F.length(lowered) - F.length(
        F.regexp_replace(lowered, "[^a-z0-9 ]", "")
    )
    stop_ratio = stop_cnt.cast("double") / n_tok
    punct_ratio = punct_cnt.cast("double") / F.length(lowered)
    length_score = F.least(F.col("n_chars").cast("double") / F.lit(500.0), F.lit(1.0))
    score = F.round(
        length_score * 0.4 + stop_ratio * 0.4 + (F.lit(1.0) - punct_ratio) * 0.2, 6
    )
    return docs.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        stop_cnt.alias("stopword_cnt"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        score.alias("quality_score"),
    )


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language ID (SQL-expressible tier): predicts from
    function-word presence.  The synthetic corpus is English-ish regardless
    of its ``lang`` label, so the interesting output is the deterministic
    prediction, not label recovery.  The real-world-grade char-n-gram
    classifier is ``lang_id_chargram_pandas`` below (oracle-backed)."""
    docs = load_table(spark, sf_dir, "documents")
    padded = F.concat(F.lit(" "), F.lower(F.col("text")), F.lit(" "))
    pred = (
        F.when(padded.contains(" the ") | padded.contains(" and "), "en")
        .when(padded.contains(" le ") | padded.contains(" la "), "fr")
        .when(padded.contains(" der ") | padded.contains(" und "), "de")
        .otherwise("und")
    )
    return docs.select("doc_id", pred.alias("lang_pred"))


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style document fingerprint: the minimum md5 over word
    3-gram shingles — a content-defined signature stable under reordering
    of unrelated documents and usable as a cheap near-dup prefilter
    (full scheme: keep the min hash per sliding window; the global min is
    its 1-window degenerate form)."""
    docs = load_table(spark, sf_dir, "documents")
    # arrays_zip shingles -> flat md5 projection -> groupBy-min: both the
    # shingle construction and md5 stay in whole-stage codegen, zero
    # shuffles for generation (array-lambda forms run interpreted; see
    # functions.hashing.exploded_word_shingles).  The
    # left join reintroduces sub-3-token docs with NULL fingerprints,
    # matching the oracle's list_min-of-empty semantics.
    from ..functions.hashing import exploded_word_shingles

    sh = exploded_word_shingles(docs, "doc_id", "text", 3)
    fps = sh.groupBy("doc_id").agg(F.min(F.md5(F.col("shingle"))).alias("fingerprint"))
    return docs.select("doc_id").join(fps, "doc_id", "left")


# ---------------------------------------------------------------------------
# Arrow-batched escape hatch (the engine's `map()` equivalent for logic that
# genuinely needs Python) — char-n-gram language scoring.
# ---------------------------------------------------------------------------

_PROFILES = {
    "en": (" th", "the", "he ", " an", "and", "nd ", " of", "of "),
    "fr": (" le", "le ", " de", "de ", "es ", " la", "la ", "ent"),
    "de": (" de", "der", "er ", " un", "und", "nd ", "ich", "ein"),
}


def lang_id_chargram_pandas(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Char-trigram profile scoring via ``mapInPandas`` (Arrow batches;
    vectorized pandas ``str.count`` — never row-at-a-time Python).

    Demonstrates the sanctioned UDF tier — and is still externally
    checkable (upgraded from rows-only in round 3): leftmost
    non-overlapping literal counts equal replace-shrinkage counting in
    SQL, so the DuckDB oracle regenerates the scores from the same
    ``_PROFILES`` table and mirrors the strictly-greater en→fr→de
    tie-break.
    """
    out_schema = "doc_id bigint, lang_pred string, score double"

    def score_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            padded = " " + pdf[text_col].str.lower() + " "
            best_lang = pd.Series("und", index=pdf.index)
            best_score = pd.Series(0.0, index=pdf.index)
            for lang, grams in _PROFILES.items():
                score = sum(padded.str.count(g) for g in grams).astype("float64")
                better = score > best_score
                best_lang = best_lang.where(~better, lang)
                best_score = best_score.where(~better, score)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "lang_pred": best_lang,
                    "score": best_score,
                }
            )

    return df.mapInPandas(score_batches, schema=out_schema)


def unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style unigram language-model quality score: train a unigram
    LM on the corpus itself, then score every document by its mean token
    log-probability (low score = unusual token mix = likely boilerplate
    or noise; the classic LM-perplexity pre-training filter with a
    unigram proxy model).

    Two-pass dataflow, each pass one shuffle:
      1. model: explode tokens -> groupBy(token).count() (map-side
         partial agg; output is vocab-sized, i.e. tiny) -> per-token
         log-prob ln(cnt/total).
      2. score: re-join tokens against the BROADCAST model -> one
         groupBy(doc_id) -> mean log-prob.
    At 100 TB the model side stays broadcastable because vocabulary
    grows sub-linearly in corpus size (cap to top-K tokens with an OOV
    floor if it doesn't); the corpus-side work is two scans and two
    map-side-combined shuffles, never a wide join.

    Oracle discipline: per-token log-probs are rounded to 9 dp and
    carried as DECIMAL(18,9), so the per-doc sum is EXACT (no
    reduction-order noise); only the final mean is a double, rounded to
    6 dp.  ln() runs on bit-identical double inputs on both sides
    (exact-integer ratio), leaving at most a 1-ulp libm gap that the
    9 dp rounding collapses outside an ~1e-16 tie window.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
    # Materialize the vocab-sized model once: without this, the grand
    # total's lineage re-derives the model and the corpus is scanned a
    # third time (the plan's exchange budget is pinned in
    # tests/test_shuffle_budget.py) — at 100 TB that extra full scan is
    # the dominant cost of the query.
    model = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=True)
    )
    total = model.agg(F.sum("cnt").cast("double").alias("total"))
    lp = model.crossJoin(F.broadcast(total)).select(
        "token",
        F.round(F.ln(F.col("cnt").cast("double") / F.col("total")), 9)
        .cast("decimal(18,9)")
        .alias("lp"),
    )
    scored = (
        toks.join(F.broadcast(lp), "token")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_tokens"), F.sum("lp").alias("_sum_lp"))
    )
    return scored.select(
        "doc_id",
        "n_tokens",
        F.round(
            F.col("_sum_lp").cast("double") / F.col("n_tokens"), 6
        ).alias("logprob_score"),
    )


def _bigram_doc_counts(docs: DataFrame) -> DataFrame:
    """Per-doc bigram counts — the corpus-side dataflow of
    :func:`bigram_logprob` BEFORE its localCheckpoint.  Factored out so
    tests can pin the upstream plan shape (one exchange: codegen shingle
    explode → groupBy(doc_id, bigram)); the checkpoint in the caller
    would otherwise hide these exchanges from ``count_exchanges``.

    The count is DECIMAL(10,0) so the later c·lp product stays exact
    decimal(29,9) (a BIGINT weight hits the precision-39 cap and Spark
    silently drops the product to scale 8)."""
    from ..functions.hashing import exploded_word_shingles

    return (
        exploded_word_shingles(docs, n=2)
        .withColumnRenamed("shingle", "bigram")
        .groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).cast("decimal(10,0)").alias("c"))
    )


def bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram LM quality score — the n-gram generalization
    of :func:`unigram_logprob` (CCNet's production filter is a 5-gram
    KenLM; the interpolation backoff λ·P(w2|w1) + (1−λ)·P(w2) is the
    mechanism that makes higher-order models usable at all, since most
    bigrams are unseen for any given context).

    Dataflow (one more model shuffle than unigram, same broadcast-back
    shape).  The corpus is tokenized into bigrams ONCE, via the codegen
    ``exploded_word_shingles`` path (``arrays_zip`` of shifted slices —
    ordinary expressions; the ``transform``-lambda spelling runs on the
    interpreted HOF path and made this query 4x slower at sf0.1,
    A/B 4.37 → 1.06 s min-of-5), collapsed to per-doc bigram COUNTS, and
    that small table feeds both the model and the score:
      1. bgc: explode bigrams → groupBy(doc_id, bigram).count(),
         materialized (distinct-pairs-sized, ≪ the occurrence stream; at
         100 TB swap the localCheckpoint for cache-with-spill or let the
         two consumers recompute — the trade is stated, not hidden).
      2. bigram model: groupBy(bigram) over bgc (map-side partial agg;
         model is bigram-vocab-sized).  w1/w2 come from
         ``substring_index`` — a total function; the ``split()[i]``
         spelling ANSI-errors when Catalyst inlines it past the
         null-filter of the shingle generator.
      3. context counts c(w1·) + unigram model + total: vocab-sized
         inputs, trivial shuffles.
      4. score: bgc re-joins the BROADCAST per-bigram log-prob table →
         one groupBy(doc_id) → count-weighted mean.
    At 100 TB the bigram model is the broadcast-size risk (it grows
    faster than the vocab); production caps to top-K bigrams with the
    interpolation absorbing the tail — the same OOV story as unigram.

    Oracle discipline: P_bi = c(w1w2)/c(w1·) and P_uni = c(w2)/total are
    exact-integer ratios; λ = 0.9 parses to the same double literal in
    both engines, IEEE mul/add are correctly rounded, so
    ln(λ·P_bi + (1−λ)·P_uni) sees bit-identical inputs; rounding the
    log-prob to 9 dp and carrying it as DECIMAL(18,9) makes the per-doc
    sum reduction-order-exact.  The count weight is cast to
    DECIMAL(10,0) so c·lp is decimal(29,9) — EXACT; a raw BIGINT weight
    hits the precision-39 cap and Spark silently drops the product to
    scale 8 (observed as a 1e-6 divergence on a rounding-tie document).
    Documents with <2 tokens have no bigrams and drop out on both
    sides."""
    docs = load_table(spark, sf_dir, "documents")
    uni = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
    bgc = _bigram_doc_counts(docs).localCheckpoint(eager=True)
    bi_model = (
        bgc.groupBy("bigram")
        .agg(F.sum("c").cast("long").alias("c_bi"))
        .withColumn("w1", F.substring_index(F.col("bigram"), " ", 1))
        .withColumn("w2", F.substring_index(F.col("bigram"), " ", -1))
    )
    ctx = bi_model.groupBy("w1").agg(F.sum("c_bi").alias("c_ctx"))
    uni_model = uni.groupBy("token").agg(F.count(F.lit(1)).alias("c_uni"))
    total = uni_model.agg(F.sum("c_uni").cast("double").alias("total"))
    lam = F.lit(0.9)
    lp = (
        bi_model.join(F.broadcast(ctx), "w1")
        .join(
            F.broadcast(uni_model.withColumnRenamed("token", "w2")), "w2"
        )
        .crossJoin(F.broadcast(total))
        .select(
            "bigram",
            F.round(
                F.ln(
                    lam
                    * (
                        F.col("c_bi").cast("double")
                        / F.col("c_ctx").cast("double")
                    )
                    # 0.1 as a LITERAL, not 1.0-0.9 (which is
                    # 0.09999999999999998 in IEEE and would diverge from
                    # the oracle's 0.1)
                    + F.lit(0.1)
                    * (F.col("c_uni").cast("double") / F.col("total"))
                ),
                9,
            )
            .cast("decimal(18,9)")
            .alias("lp"),
        )
    )
    scored = (
        bgc.join(F.broadcast(lp), "bigram")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_bigrams"),
            F.sum(F.col("c") * F.col("lp")).alias("_sum_lp"),
        )
    )
    return scored.select(
        "doc_id",
        "n_bigrams",
        F.round(
            F.col("_sum_lp").cast("double") / F.col("n_bigrams"), 6
        ).alias("logprob_score"),
    )


def bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 scoring core shared by ``bm25_topk`` and the hybrid
    retrieval fusion (``similarity.hybrid_retrieval_rrf``): every
    document containing at least one query term, with its exact
    DECIMAL(18,9) 3-term score (k1 = 1.2, b = 0.75) — the classic
    sparse-retrieval scorer sitting between ``tfidf_top_terms``
    (corpus statistics) and ``inverted_index`` (posting lists) in a
    search/RAG data pipeline.

    One-pass dataflow: because the query is a small FIXED term set, the
    per-term term frequencies are conditional aggregates in the SAME
    per-doc groupBy that computes document length — ONE corpus shuffle
    total, no exploded-token self-join, no per-term scan.  Corpus stats
    (N, Σdl, per-term df) reduce the per-doc table to one broadcast row;
    scoring is a columnwise projection.  At 100 TB: one map-side-combined
    shuffle on doc_id + TakeOrderedAndProject — the same plan as any
    scan-dominated aggregate.

    r12 NEGATIVE RESULT (guide §1.1 — the "ideal" plan was slower):
    a zero-shuffle spelling (per-doc dl/tf as array expressions,
    ``size(filter(tokens, ...))``) removed the exchange but LOST the
    plan's one reuse point — the stats aggregate and the scoring
    projection each re-evaluated the interpreted-HOF corpus scan, and
    the consumers (bm25_topk 0.53→0.66 s, hybrid_retrieval_rrf
    0.91→1.56 s at matched swing) regressed; an added lazy checkpoint
    only tied this spelling (A/B min-of-5: 0.638 vs 0.652 s) while
    trading the shuffle's fault-tolerant lineage for corpus-sized
    block persistence.  The explode + map-side-combined groupBy stays:
    the exchange carries per-doc rows (post partial-agg), and AQE
    reuses the materialized subtree across both consumers.

    Oracle discipline: tf/df/dl/N are integers; avgdl and each BM25
    contribution are doubles computed with an explicitly parenthesized
    operation order mirrored in the SQL; idf and the per-term
    contribution round to 9 dp, the contribution carried as
    DECIMAL(18,9) so the 3-term sum is exact — and the top-10 cut orders
    by that EXACT decimal (tiebreak doc_id), so the selection can never
    hinge on a sub-rounding double divergence.  Docs containing none of
    the terms score no contribution and are filtered before the cut."""
    terms = ("hash", "join", "scan")
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
    per_doc = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("dl"),
        *[
            F.sum(F.when(F.col("token") == t, 1).otherwise(0)).alias(f"tf_{t}")
            for t in terms
        ],
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum(F.when(F.col(f"tf_{t}") > 0, 1).otherwise(0)).alias(f"df_{t}")
            for t in terms
        ],
    )
    joined = per_doc.crossJoin(F.broadcast(stats))
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs").cast("double")

    def contrib(t: str):
        tf = F.col(f"tf_{t}").cast("double")
        dfq = F.col(f"df_{t}").cast("double")
        n = F.col("n_docs").cast("double")
        idf = F.round(
            F.ln((n - dfq + F.lit(0.5)) / (dfq + F.lit(0.5)) + F.lit(1.0)), 9
        )
        denom = tf + F.lit(1.2) * (
            F.lit(1.0)
            - F.lit(0.75)
            + F.lit(0.75) * F.col("dl").cast("double") / avgdl
        )
        return F.when(
            F.col(f"tf_{t}") > 0,
            # k1+1 as the LITERAL 2.2, not 1.2+1 (engines may round the
            # sum differently than the parsed literal)
            F.round(idf * (tf * F.lit(2.2)) / denom, 9).cast("decimal(18,9)"),
        ).otherwise(F.lit(0).cast("decimal(18,9)"))

    total = contrib(terms[0]) + contrib(terms[1]) + contrib(terms[2])
    scored = joined.select("doc_id", total.alias("_total"))
    return scored.filter(F.col("_total") > 0)


def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared query: BM25 top-10 for the fixed 3-term query — the
    ``bm25_scored`` core cut with ``TakeOrderedAndProject`` on the exact
    decimal score (tiebreak doc_id)."""
    return (
        bm25_scored(spark, sf_dir)
        .orderBy(F.desc("_total"), F.asc("doc_id"))
        .limit(10)
        .select("doc_id", F.col("_total").cast("double").alias("score"))
    )


def udtf_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF tier (one input row -> n output rows with arbitrary
    logic): split each document into 20-token chunks — the
    context-window chunking step of an LLM data pipeline.  The chunking
    itself is SQL-expressible (the oracle does it relationally); the point
    here is exercising the table-function surface end-to-end.

    The UDTF class is defined inside this function on purpose: classes
    defined at module level are cloudpickled by reference and break
    executors that don't have this repo on sys.path.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id bigint, chunk_idx int, chunk_text string")
    class ChunkDocs:
        def eval(self, doc_id: int, text: str):  # noqa: ANN001
            toks = text.split(" ")
            for i in range(0, len(toks), 20):
                yield doc_id, i // 20, " ".join(toks[i : i + 20])

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    view = "_udtf_chunk_docs_src"
    docs.createOrReplaceTempView(view)
    spark.udtf.register("chunk_docs", ChunkDocs)
    return spark.sql(
        f"SELECT c.* FROM {view}, LATERAL chunk_docs(doc_id, text) c"
    )


def lang_id_chargram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing wrapper for the pandas char-n-gram classifier."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return lang_id_chargram_pandas(docs)


def bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-25 word bigrams with counts — the n-gram frequency
    sweep every LM-data pipeline runs (vocabulary stats, boilerplate
    detection, contamination screens).

    Shape for scale: arrays_zip bigram generation (codegen, no shuffle — see
    ``functions.hashing.exploded_word_shingles``) → flat projection →
    one partial-aggregated groupBy → ``TakeOrderedAndProject`` for the
    top-k, so the full bigram universe is never sorted and never leaves
    the executors except as k rows.  Ties broken lexicographically to keep
    the cut deterministic."""
    from ..functions.hashing import exploded_word_shingles

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    grams = exploded_word_shingles(docs, "doc_id", "text", 2)
    return (
        grams.groupBy(F.col("shingle").alias("bigram"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("bigram").asc())
        .limit(25)
    )


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition metrics per document — the Gopher-style quality signals
    that catch degenerate/boilerplate text: distinct-token ratio, the
    fraction of the document covered by its single most frequent token,
    and the distinct-bigram ratio (near 1.0 = varied prose, low = loops).

    One explode per signal family, partial-aggregated counts, and a final
    per-doc reduce — all counts are exact integers so the derived ratios
    (rounded at 6 dp) are reduction-order-independent.  At corpus scale
    each groupBy is uniform in doc_id (no hot keys by construction)."""
    from ..functions.hashing import exploded_word_shingles

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    tok_counts = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    tok_stats = tok_counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct_tokens"),
        F.max("c").alias("top_tok"),
    )
    grams = exploded_word_shingles(docs, "doc_id", "text", 2)
    gram_stats = (
        grams.groupBy("doc_id", "shingle")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_bigrams"),
            F.count(F.lit(1)).alias("n_distinct_bigrams"),
        )
    )
    return (
        tok_stats.join(gram_stats, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.round(
                F.col("n_distinct_tokens").cast("double") / F.col("n_tokens"), 6
            ).alias("distinct_tok_ratio"),
            F.round(
                F.col("top_tok").cast("double") / F.col("n_tokens"), 6
            ).alias("top_tok_frac"),
            F.round(
                F.col("n_distinct_bigrams").cast("double") / F.col("n_bigrams"), 6
            ).alias("distinct_bigram_ratio"),
        )
    )


def deterministic_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible train/val/test assignment — the split step of every
    training-data pipeline, done WITHOUT an RNG: the first hex bytes of
    md5(salt || doc_id) pick the split by LEXICOGRAPHIC comparison (hex
    strings order identically on every engine; no hex->int builtin
    needed): prefix < 'cc' (204/256 = 79.7%) train, < 'e6' (230/256 =
    89.8%) val, else test.  Hash-based splits are the production practice (stable under
    reruns, appends, and engine changes — a seeded ``sample()`` is none of
    those), and they make the assignment itself oracle-checkable.
    Returns per (lang, split) counts plus the min/max doc_id as a spot
    check that membership, not just counts, agrees."""
    docs = load_table(spark, sf_dir, "documents")
    prefix = F.substring(
        F.md5(F.concat(F.lit("split1|"), F.col("doc_id"))), 1, 2
    )
    split = (
        F.when(prefix < "cc", "train")
        .when(prefix < "e6", "val")
        .otherwise("test")
    )
    return (
        docs.select("lang", split.alias("split"), "doc_id")
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )

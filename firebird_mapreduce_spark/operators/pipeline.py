"""Training-data pipeline operators over the ``documents`` table
(north-star extension, SURVEY §2.C): PII redaction, benchmark-contamination
checking, inverted-index construction, TF-IDF term weighting, deterministic
stratified sampling, and per-group quality filtering.

These are the curation steps a pre-training corpus passes through between
raw crawl and tokenizer — the operations a user of the reference engine
(whose surface is "arbitrary C++ in map()/reduce()",
``/root/reference/firebird.h:54-88``) would hand-write as map/reduce jobs.
Here each is a declarative DataFrame plan: string/regexp work stays inside
whole-stage codegen, joins are broadcast where one side is provably tiny
(the probe document), and every aggregation partial-aggregates map-side.

The synthetic corpus contains no natural PII or benchmark overlap, so both
queries PLANT their positives deterministically in-query (same construction
in the DuckDB oracle) — an oracle match on an empty result would be
vacuous (see tests/test_pipeline_ops.py for the non-vacuity assertions).

Scale notes (100 TB):
- ``pii_redact`` is a pure per-row projection — embarrassingly parallel,
  no shuffle, regexp evaluated in codegen.
- ``contamination_check`` joins corpus n-grams against a benchmark n-gram
  set.  The benchmark side (every eval suite ever published) is millions
  of n-grams at most — always the broadcast side; corpus n-grams stream
  through map-side hash lookups and the only shuffle is the per-doc count.
- ``inverted_index`` is the canonical MapReduce application; the groupBy
  on term partial-aggregates, but posting lists for stop-words are
  unbounded at corpus scale — real deployments cap or shard them (the
  document-frequency cutoff here is the cap's relational form).
- ``tfidf_top_terms`` reuses one exploded (doc, term) pass for both tf and
  df; the document count joins in as a broadcast single row, never a
  driver round-trip.
- ``stratified_sample`` / ``quality_topk_per_lang`` are hash-filter and
  windowed top-k shapes — one shuffle each, no RNG (hash-based sampling is
  stable under reruns and appends; a seeded ``sample()`` is neither).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import exploded_word_shingles, tokens
from ..sources import load_table, undirected

# Shared regexes — Java (Spark) and RE2 (DuckDB) read these identically:
# character classes, bounded repetition, no backrefs/lookaround.
EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
SSN_RE = "[0-9]{3}-[0-9]{2}-[0-9]{4}"


def _planted_pii(docs: DataFrame) -> DataFrame:
    """Deterministically inject PII into a known subset (doc_id % 7 / % 11)
    so the redactor's match path is exercised; mirrored in the oracle."""
    aug = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.lit(" contact user"), F.col("doc_id"), F.lit("@example.com now")),
        ).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 11 == 0, F.lit(" ssn 123-45-6789 on file")).otherwise(
            F.lit("")
        ),
    )
    return docs.select("doc_id", aug.alias("text"))


def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared query: scrub emails and SSN-shaped ids from document text,
    reporting per-doc redaction counts — the PII-removal step of a corpus
    cleaning pipeline.  Pure projection: no shuffle, fully codegen."""
    docs = _planted_pii(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace(F.col("text"), EMAIL_RE, "[EMAIL]"), SSN_RE, "[ID]"
        ).alias("redacted"),
        F.regexp_count(F.col("text"), F.lit(EMAIL_RE)).cast("long").alias("n_email"),
        F.regexp_count(F.col("text"), F.lit(SSN_RE)).cast("long").alias("n_id"),
    )


def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared query: benchmark-contamination detection — count, per
    corpus document, the distinct word 8-grams it shares with a probe
    (benchmark) document.  The standard decontamination step before
    training (e.g. 8-13-gram overlap against eval suites).

    Probe = doc 0; corpus docs with doc_id % 13 == 0 get a probe snippet
    appended (planted contamination, mirrored in the oracle).  The probe
    n-gram set is broadcast — at scale the benchmark side is always the
    small side — so corpus n-grams never shuffle; the one exchange is the
    per-doc hit count."""
    docs = load_table(spark, sf_dir, "documents")
    probe = docs.filter(F.col("doc_id") == 0).select(
        F.col("text").alias("probe_text")
    )
    corpus = (
        docs.filter(F.col("doc_id") > 0)
        .crossJoin(F.broadcast(probe))
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 13 == 0,
                F.concat(F.col("text"), F.lit(" "), F.substring("probe_text", 1, 80)),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
    )
    return ngram_overlap(
        corpus, probe.select(F.lit(0).alias("doc_id"), F.col("probe_text").alias("text")), 8
    )


def ngram_overlap(corpus: DataFrame, probe: DataFrame, n: int) -> DataFrame:
    """Core of ``contamination_check`` over arbitrary (doc_id, text)
    DataFrames: per corpus doc, the count of distinct word ``n``-grams it
    shares with ANY probe doc.  Probe side broadcast; docs with no overlap
    emit no row.  Differentially tested against a Python set-intersection
    reference in tests/test_properties.py."""
    probe_grams = (
        exploded_word_shingles(probe, "doc_id", "text", n).select("shingle").distinct()
    )
    corpus_grams = exploded_word_shingles(corpus, "doc_id", "text", n).distinct()
    return (
        corpus_grams.join(F.broadcast(probe_grams), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_contaminated_ngrams"))
    )


def inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared query: term → (document frequency, sorted posting list) —
    the canonical MapReduce application (map: emit (term, doc); reduce:
    merge postings), expressed as explode → distinct → groupBy.  Posting
    lists are emitted as comma-joined strings so the result is flat and
    order-canonical.  At 100 TB stop-word postings are unbounded; the
    ``max_df`` cutoff is the standard cap (dropped terms are exactly the
    ones a search engine stop-lists)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
        .filter(F.col("term") != "")
        .distinct()
    )
    return (
        pairs.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.array_join(F.sort_array(F.collect_set("doc_id")), ",").alias("postings"),
        )
    )


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared query: the highest-weighted term per document under
    tf·(N/df) scoring (the log-free rational form: one exact integer
    product and ONE IEEE division, so Spark and the oracle agree
    bit-for-bit — ln() would be libm-dependent).  Ties break on the
    lexicographically smallest term.

    One exploded (doc, term) pass feeds both tf and df; N arrives as a
    broadcast one-row aggregate, never a driver round-trip.  The df
    branch's lineage is recomputed rather than checkpointed (column
    pruning drops tf's count there, so the exchange is not reusable):
    one extra map-side corpus scan, chosen over materializing the
    corpus-sized tf table in executor storage."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term")).filter(
        F.col("term") != ""
    )
    tf = pairs.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # df falls out of tf for free (one row per (doc, term) already) — a
    # separate pairs.distinct() would tokenize the corpus a second time.
    # dfreq is vocab-sized, so it is BROADCAST: joining it by shuffle
    # would repartition the whole (doc, term) table on term just to tag
    # each row with a df — the wrong side of the join pays at 100 TB.
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # doc_id is the table key, so N is a plain count — countDistinct here
    # would add a doc_id-hash exchange just to dedupe an already-unique key
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            (F.col("tf") * F.col("n_docs")).cast("double") / F.col("df").cast("double"),
        )
    )
    # arg-max per doc as a partial-aggregating min_by instead of a sort
    # window: the ordering (tfidf DESC, term ASC) becomes the struct min
    # of (-tfidf, term) — IEEE negation is exact, term is unique per doc
    # after the tf groupBy, so the winner is identical and deterministic;
    # the agg combines map-side and never materializes a per-doc sort.
    best = scored.groupBy("doc_id").agg(
        F.min_by(
            F.struct("term", "tf", "df", "tfidf"),
            F.struct((-F.col("tfidf")).alias("neg"), F.col("term")),
        ).alias("b")
    )
    return best.select("doc_id", "b.term", "b.tf", "b.df", "b.tfidf")


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared query: deterministic per-language downsampling — the
    language-rebalancing step of corpus assembly (e.g. cap English, keep
    low-resource languages).  Membership is a pure hash predicate
    (md5 hex-prefix < per-language threshold, same trick as
    ``deterministic_split``): stable under reruns and appends, no RNG,
    and the assignment itself is oracle-checkable.  Output aggregates
    per-language kept/total counts plus min/max kept doc_id so membership
    — not just rates — is verified."""
    docs = load_table(spark, sf_dir, "documents")
    prefix = F.substring(F.md5(F.concat(F.lit("samp|"), F.col("doc_id"))), 1, 2)
    cut = (
        F.when(F.col("lang") == "en", "33")  # 51/256 ≈ 20% — cap the majority
        .when(F.col("lang") == "de", "80")  # 128/256 = 50%
        .otherwise(F.lit("cc"))  # 204/256 ≈ 80% — keep low-resource langs
    )
    kept = prefix < cut
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(kept.cast("long")).alias("n_sampled"),
        F.min(F.when(kept, F.col("doc_id"))).alias("min_kept"),
        F.max(F.when(kept, F.col("doc_id"))).alias("max_kept"),
    )


def pack_training_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared query: concat-then-chunk sequence packing — the final step
    that turns a curated corpus into fixed-context training blocks (concat
    all docs in a shard, slice into 2048-token chunks).

    Sharding is a hash prefix (first hex char of md5 → 16 shards), packing
    order inside a shard is doc_id — both deterministic, so the (shard,
    chunk) assignment is reproducible and oracle-checkable.  The window
    running-sum is the relational form of the sequential concat: chunk =
    floor((cumulative_tokens - 1) / context).  Division by a power of two
    is exact in doubles, so floor agrees bit-for-bit across engines.

    At 100 TB: one shuffle on the shard key; each shard's window sort is
    independent (shards ≫ executors keeps them balanced) and streams —
    state is one running sum.  This is exactly how production packers
    shard: hash-partition, sort within shard, emit sequentially."""
    return pack_chunks(load_table(spark, sf_dir, "documents"), 2048)


def pack_chunks(docs: DataFrame, context: int) -> DataFrame:
    """Core of ``pack_training_chunks`` over an arbitrary (doc_id, text)
    DataFrame; differentially tested against a serial Python packer in
    tests/test_properties.py."""
    toks = F.size(tokens(F.col("text")))
    shard = F.substring(F.md5(F.concat(F.lit("shard|"), F.col("doc_id"))), 1, 1)
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    assigned = docs.select(
        "doc_id", shard.alias("shard"), toks.alias("n_tok")
    ).withColumn("cum", F.sum("n_tok").over(w))
    chunked = assigned.withColumn(
        "chunk", F.floor((F.col("cum") - 1) / F.lit(float(context)))
    )
    return chunked.groupBy("shard", "chunk").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("chunk_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


def quality_topk_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared query: the top-3 documents per language by the
    ``text_quality`` heuristic score — per-group quality filtering, the
    selection step that follows scoring in a curation pipeline.  Windowed
    row_number with a doc_id tie-break; one shuffle on lang."""
    from .text import text_quality

    scored = text_quality(spark, sf_dir).join(
        load_table(spark, sf_dir, "documents").select("doc_id", "lang"), "doc_id"
    )
    w = Window.partitionBy("lang").orderBy(
        F.desc("quality_score"), F.asc("doc_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("lang", "doc_id", "quality_score", F.col("rn").alias("rank"))
    )


def quality_filter_c4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared query: C4-style rule-based quality gate over documents —
    the cheap heuristic pass a crawl corpus goes through before any
    model-based scoring (Raffel et al., "Exploring the Limits of Transfer
    Learning", the C4 cleaning rules, re-expressed relationally).  Three
    rules over per-doc features: minimum length (≥ 30 words), plausible
    mean word length (≤ 5.0 chars — prose, not code/tables), and a
    minimum stopword ratio (≥ 3% of tokens from a tiny function-word set
    — the classic "is this natural language" signal).  Emits every doc
    with its features and the keep verdict, so the downstream filter is
    one ``WHERE keep``.

    Everything is codegen-side array/string arithmetic — split, filter,
    size — no UDF, no shuffle at all (pure projection: the 100 TB shape
    is map-only).  Thresholds compare the ROUNDED features so the DuckDB
    oracle's double arithmetic is bit-identical."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.col("text")), " ")
    n_words = F.size(toks).cast("long")
    mwl = F.round(
        F.length(F.translate(F.col("text"), " ", "")).cast("double") / n_words, 6
    )
    stop_cnt = F.size(
        F.filter(toks, lambda t: t.isin("the", "a", "of", "to", "and"))
    )
    stop_ratio = F.round(stop_cnt.cast("double") / n_words, 6)
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        mwl.alias("mean_word_len"),
        stop_ratio.alias("stop_ratio"),
        (
            (n_words >= 30) & (mwl <= 5.0) & (stop_ratio >= 0.03)
        ).alias("keep"),
    )


def lang_mix_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared query: dynamic data mixing — downsample every language
    to (approximately) the SMALLEST language's document count, the
    corpus-rebalancing step of pretraining-mix assembly.  Unlike
    ``stratified_sample`` (fixed per-language rates), the rates here are
    COMPUTED from the data: rate = min_count / lang_count, so the target
    mix is uniform regardless of the input skew.

    Plan shape for 100 TB: one tiny per-language count aggregate, the
    single-row global min cross-joined (broadcast) onto it, the
    resulting cut table broadcast back onto the corpus — the big table
    is touched by exactly one scan + one map-side hash join + one final
    aggregate; no RNG (md5-prefix membership, stable under reruns and
    appends, oracle-checkable).  The cut is ``floor(rate · 2^32)``
    compared against the first 8 md5 hex digits as an integer — both
    sides exact IEEE doubles, so membership is bit-identical."""
    docs = load_table(spark, sf_dir, "documents")
    return _hash_mix_report(
        docs,
        salt="mix|",
        rate=lambda n_min, n_lang: n_min.cast("double") / n_lang,
    )


def _hash_mix_report(docs: DataFrame, salt: str, rate) -> DataFrame:
    """Shared scaffold of the deterministic mixing family
    (:func:`lang_mix_downsample`, :func:`lang_mix_temperature`): tiny
    per-language count aggregate → broadcast single-row min →
    per-language cut = floor(rate(n_min, n_lang)·2^32) → md5-prefix
    membership under ``salt`` → the 4-column per-language keep report.
    ``rate`` is a (n_min_col, n_lang_col) → double-Column function —
    the ONLY thing the two operators differ in besides the salt."""
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_lang"))
    target = counts.agg(F.min("n_lang").alias("n_min"))
    cuts = counts.crossJoin(F.broadcast(target)).select(
        "lang",
        F.floor(
            rate(F.col("n_min"), F.col("n_lang")) * F.lit(4294967296.0)
        ).alias("cut"),
    )
    hashv = F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), F.col("doc_id"))), 1, 8),
        16,
        10,
    ).cast("long")
    kept = hashv < F.col("cut")
    return (
        docs.join(F.broadcast(cuts), "lang")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(kept.cast("long")).alias("n_kept"),
            F.min(F.when(kept, F.col("doc_id"))).alias("min_kept"),
            F.max(F.when(kept, F.col("doc_id"))).alias("max_kept"),
        )
    )


def lang_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted language mixing (α = 0.5) — the standard
    multilingual-pretraining sampling knob: target share ∝ p_l^α, which
    up-weights rare languages without flattening the mix entirely.
    Realized as deterministic per-language keep-rates normalized so the
    rarest language keeps everything:
    ``rate_l = (n_min / n_l)^(1-α) = sqrt(n_min / n_l)`` at α = 0.5 —
    α = 0 degenerates to :func:`lang_mix_downsample`'s uniform target
    (rate n_min/n_l), α = 1 keeps the natural mix (rate 1).

    Same scale shape as lang_mix_downsample: tiny count aggregate →
    broadcast cut table → one scan of the corpus, no RNG (md5-prefix
    membership under the ``mixtemp|`` salt).  Exactness: sqrt is
    CORRECTLY ROUNDED under IEEE-754 (unlike pow), and its input
    n_min/n_l is a double quotient of exact integers, so both engines
    compute the identical cut = floor(sqrt(n_min/n_l)·2^32)."""
    docs = load_table(spark, sf_dir, "documents")
    return _hash_mix_report(
        docs,
        salt="mixtemp|",
        rate=lambda n_min, n_lang: F.sqrt(n_min.cast("double") / n_lang),
    )


def profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling report over ``events`` — per column: null count,
    exact distinct count, and deterministically formatted min/max — the
    data-quality dashboard every ingest pipeline fronts a corpus with
    (schema drift, null storms, and cardinality explosions all show up
    here before they poison training runs).

    Spelling: one aggregation branch PER COLUMN, unioned into the long
    report (the driver receives six rows, never data).  Each branch's
    scan prunes to its single column, so total bytes read stay ~one full
    scan of the table while every distinct aggregate runs as an ordinary
    partial→final pair — measured 4× faster at sf0.1 than the
    single-pass multi-DISTINCT form, whose Expand multiplies every row
    by the column count before the shuffle (the A/B and the trade are in
    SCALE.md).  At 100 TB swap the exact distincts for
    ``approx_count_distinct``/HLL sketches, whose lossless mergeability
    is pinned in test_properties.py.

    Formatting is the cross-engine discipline: bigints via plain string
    cast, doubles via ``%.2f`` (inputs are exact 2-dp), timestamps via
    an explicit microsecond pattern — each formatter chosen because the
    DuckDB twin produces the identical text.
    """
    ev = load_table(spark, sf_dir, "events")
    as_str = lambda c: c.cast("string")  # noqa: E731
    as_2f = lambda c: F.format_string("%.2f", c)  # noqa: E731
    as_ts = lambda c: F.date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS")  # noqa: E731
    plan = {
        "event_id": as_str,
        "ts": as_ts,
        "user_id": as_str,
        "event_type": as_str,
        "value": as_2f,
        "props": as_str,
    }
    branches = [
        ev.agg(
            F.lit(col).alias("col_name"),
            (F.count(F.lit(1)) - F.count(col)).alias("null_cnt"),
            F.countDistinct(col).alias("distinct_cnt"),
            fmt(F.min(col)).alias("min_str"),
            fmt(F.max(col)).alias("max_str"),
        )
        for col, fmt in plan.items()
    ]
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out


def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END curation pipeline as ONE declared query — the composed
    workflow a corpus actually runs, not isolated operators: planted
    exact duplicates → C4-style quality gate → exact content dedup →
    dynamic language-mix downsampling, reported as a per-language funnel
    (corpus → quality → unique → final) with min/max surviving ids.

    Every stage reuses the verified building block's exact expressions
    (`quality_filter_c4` rules, `dedup_exact_hash` min-id survivorship,
    `lang_mix_downsample` md5-prefix cuts), and the oracle replays the
    same chain as nested CTEs — so the INTEGRATION is externally
    verified, not just the parts.  Plan shape at 100 TB: the quality
    projection is map-only; dedup is one content-hash shuffle of
    survivors; the mix cut table is language-count-sized and broadcast;
    stage-accounting aggregates are group-key-sized.  The corpus IS
    scanned twice — once for the main funnel path and once for the
    per-language input/quality counts (`base`) — the same
    recompute-vs-materialize trade as `tfidf_top_terms`'s df branch: a
    second columnar scan beats persisting a corpus-sized intermediate.
    In a production run the accounting side rides ``observe()`` on the
    main pass instead (see
    test_observe_metrics_account_without_second_pass); here it is a
    declared output so the oracle can check the whole funnel.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    corpus = docs.unionByName(
        docs.select((F.col("doc_id") + 200000).alias("doc_id"), "text", "lang")
    )
    toks = F.split(F.lower(F.col("text")), " ")
    n_words = F.size(toks).cast("long")
    mwl = F.round(
        F.length(F.translate(F.col("text"), " ", "")).cast("double") / n_words, 6
    )
    stop_ratio = F.round(
        F.size(
            F.filter(toks, lambda t: t.isin("the", "a", "of", "to", "and"))
        ).cast("double")
        / n_words,
        6,
    )
    q = corpus.withColumn(
        "keep", (n_words >= 30) & (mwl <= 5.0) & (stop_ratio >= 0.03)
    )
    kept = q.filter("keep")
    survivors = kept.groupBy(F.md5("text").alias("h")).agg(
        F.min("doc_id").alias("doc_id")
    )
    uniq = survivors.select("doc_id").join(kept.select("doc_id", "lang"), "doc_id")
    counts = uniq.groupBy("lang").agg(F.count(F.lit(1)).alias("n_uniq"))
    target = counts.agg(F.min("n_uniq").alias("n_target"))
    cuts = counts.crossJoin(F.broadcast(target)).select(
        "lang",
        F.floor(
            F.col("n_target").cast("double") / F.col("n_uniq") * F.lit(4294967296.0)
        ).alias("cut"),
    )
    hashv = F.conv(
        F.substring(F.md5(F.concat(F.lit("mix|"), F.col("doc_id"))), 1, 8), 16, 10
    ).cast("long")
    staged = uniq.join(F.broadcast(cuts), "lang").withColumn(
        "fin", hashv < F.col("cut")
    )
    base = q.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_corpus"),
        F.sum(F.col("keep").cast("long")).alias("n_quality"),
    )
    funnel = staged.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_unique"),
        F.sum(F.col("fin").cast("long")).alias("n_final"),
        F.min(F.when(F.col("fin"), F.col("doc_id"))).alias("min_final"),
        F.max(F.when(F.col("fin"), F.col("doc_id"))).alias("max_final"),
    )
    # LEFT join so a language whose docs are ALL removed by the quality
    # gate still reports n_unique=0/n_final=0 instead of vanishing from
    # the funnel — a silently-missing language is the one funnel failure
    # mode a curation report must not have (oracle mirrors the left join).
    return base.join(funnel, "lang", "left").select(
        "lang",
        "n_corpus",
        "n_quality",
        F.coalesce("n_unique", F.lit(0)).alias("n_unique"),
        F.coalesce("n_final", F.lit(0)).alias("n_final"),
        "min_final",
        "max_final",
    )


def curation_pipeline_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION-width curation funnel — ``curation_pipeline`` with
    the two stages every real training-data run inserts between dedup
    and mixing (VERDICT r6 item 5): MinHash NEAR-dedup and a benchmark
    DECONTAMINATION screen.  One declared query, per-language attrition
    accounting for all six stages:

      corpus   documents ∪ +200000 exact copies, with the benchmark
               snippet planted on doc_id % 13 == 0 BEFORE the union
               (both copies inherit it, so exact-dup pairs survive the
               plant — the ``contamination_check`` fixture);
      quality  the C4-style rule gate (``quality_filter_c4``'s exact
               rounded expressions);
      unique   exact content dedup, min-id survivorship
               (``dedup_exact_hash``'s rule);
      neardup  MinHash-LSH band collisions among the unique survivors
               (``banded_signatures`` — the same 16-hash/4-band rule as
               ``dedup_minhash_lsh``), keep-min-id: any survivor that
               collides with a smaller-id survivor on a full band is
               dropped (the corpus has natural near-dup pairs, so the
               stage is non-vacuous — the same pairs
               ``split_leakage_after_dedup`` clusters);
      clean    decontamination: drop any doc sharing >= 1 distinct word
               8-gram with the benchmark (doc 0's raw text — which
               removes doc 0 itself and every planted %13 doc;
               ``contamination_check``'s overlap expressions);
      final    dynamic language-mix downsampling over the clean set
               (``lang_mix_downsample``'s md5-prefix cuts, rates from
               the CLEAN per-language counts).

    Output: (lang, n_corpus, n_quality, n_unique, n_neardup, n_clean,
    n_final, min_final, max_final) — the left-join discipline of
    ``curation_pipeline`` so a fully-filtered language still reports its
    zeros.  The oracle replays the whole chain as nested CTEs (the
    MinHash banding via the shared ``_MINHASH_CTES``), so the
    INTEGRATION of all six stages is hash-verified, not just the parts.

    Plan shape at 100 TB: quality and planting are map-only; exact dedup
    one content-hash shuffle; near-dedup one banded self-join over
    survivors (signature explode is map-side); decontamination a
    broadcast of the benchmark gram set; mix cuts language-count-sized.
    The stage frames reuse each other (kept → uniq → nd → clean), so the
    corpus is scanned twice (funnel path + per-language base counts) —
    the ``curation_pipeline`` recompute-vs-materialize trade."""
    return _curation_funnel(spark, sf_dir, image_stage=False)


def curation_pipeline_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MULTIMODAL curation funnel (VERDICT r7 item 6 —
    ``curation_pipeline_full`` was text-only; a production pipeline
    screens images in the same pass): the same six text stages plus an
    IMAGE NEAR-DUP stage between text near-dedup and decontamination —
    each document's image asset (one real PNG per doc_id <
    ``_PHASH_BASE``, ``_funnel_image_fixture_dir``) is decoded and
    perceptually hashed with EXACTLY the machinery of
    ``dedup_images_phash`` (``phash_hashes`` + ``_phash_band_keys`` +
    the Hamming-<=3 verify — shared functions, so the stage cannot
    drift from the standalone operator), and any surviving doc whose
    image is a near-dup of a SMALLER surviving doc's image is dropped.
    The fixture plants 4-doc groups sharing one image family
    (brightness shift ≡ identical hash, one-block retouches <= 2 bits),
    so the stage non-vacuously keeps ~1 doc per surviving group; docs
    without images pass through.

    r9 adds the AUDIO near-dup stage after the image one (VERDICT r8
    item 3 — the audio tier's machinery was already shared-function):
    each surviving doc's audio clip (one real WAV per doc_id <
    ``_AFP_BASE``, ``_funnel_audio_fixture_dir`` — 8-doc groups sharing
    one clip family, deliberately SPANNING two image groups: gain shift
    ≡ identical fingerprint, one-window re-records <= 2 bits) is
    PCM-decoded and energy-fingerprinted with
    EXACTLY ``dedup_audio_fingerprint``'s machinery
    (``audio_fingerprints`` + the shared ``_modal_neardup_dropped``
    banding/Hamming rule — the SAME function the image stage runs, one
    stage later), and any surviving doc whose clip near-dups a SMALLER
    surviving doc's clip is dropped.  EIGHT stages: corpus → quality →
    unique → neardup → imgdedup → auddedup → clean → final.

    Output: (lang, n_corpus, n_quality, n_unique, n_neardup,
    n_imgdedup, n_auddedup, n_clean, n_final, min_final, max_final).
    The oracle replays both modality stages relationally (the
    ``_phash_grid`` / ``_afp_amplitudes`` arithmetic over the funnel
    salts) inside the same nested-CTE chain.

    At 100 TB each modality stage adds one map-only decode pass over
    the doc→asset files and one banded self-join over survivors' 4
    band keys — the standalone dedup plans riding inside the funnel."""
    return _curation_funnel(spark, sf_dir, image_stage=True, audio_stage=True)


def curation_pipeline_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NINE-stage curation funnel (r11) — ``curation_pipeline_
    multimodal`` plus the SEMANTIC near-dedup stage the unified crawl
    gained this round, inserted where SemDeDup runs in production:
    after text near-dedup (cheap screens first), before the media
    screens.  corpus → quality → unique → neardup → SEMDEDUP →
    imgdedup → auddedup → clean → final.

    The stage: each surviving doc's embedding derives from its 4-doc
    VECTOR FAMILY (the image fixture's family idiom on the vector
    tier) — corpus vector ``doc_id - doc_id%4`` perturbed +0.05 at dim
    ``(doc_id%4)·7``, so family members are mutual semantic near-dups
    (cosine ≈ 0.9988) while cross-family cosines stay at the corpus's
    natural ≤ 0.47 — and ``dedup_semantic``'s machinery (assign-only
    enrollment against the persisted k-means centroids, salted SRP
    banding within clusters, exact-cosine verify, keep-min-id) drops
    any survivor whose vector near-dups a SMALLER survivor's.  Docs
    whose family base has no corpus vector pass through (the media
    stages' d < 256 idiom).  ~3/4 of vector-carrying survivors drop —
    a non-vacuous stage, pinned in test_pipeline_ops.py.

    Output: (lang, n_corpus, n_quality, n_unique, n_neardup,
    n_semdedup, n_imgdedup, n_auddedup, n_clean, n_final, min_final,
    max_final).  The oracle replays the stage through the SAME shared
    CTE builders as the crawl's semantic tier (the k-means chain,
    ``_sql_enroll``/``_sql_srp_sigs``/``_sql_semantic_match``) inside
    the funnel's nested-CTE chain.

    At 100 TB the stage adds one broadcast-centroid enrollment over
    survivors, a banded self-join on (cluster, table, signature) —
    never all-pairs — and an exact rerank of band collisions only:
    the ``dedup_semantic`` plan riding inside the funnel, exactly as
    the media stages ride their standalone operators' plans."""
    return _curation_funnel(
        spark, sf_dir, image_stage=True, audio_stage=True,
        semantic_stage=True,
    )


def _semantic_stage_dropped(
    spark: SparkSession, sf_dir: str, surviving: DataFrame
) -> DataFrame:
    """Doc ids dropped by the funnel's SEMANTIC near-dup stage: derive
    each surviving doc's family vector, enroll assign-only against the
    persisted raw-corpus centroids, band with salted SRP within
    clusters, verify band collisions by exact cosine, and drop any
    survivor matching a SMALLER survivor at sim >= the SemDeDup
    threshold — ``dedup_semantic``'s candidate + verify rule restricted
    to survivors (``_banded_candidate_pairs`` / ``_rerank_candidate_
    pairs`` shared verbatim, the ``_modal_neardup_dropped`` discipline
    on the vector tier)."""
    from .similarity import (
        NEARDUP_TABLES,
        SEMANTIC_THRESHOLD,
        _assign_to_centroids_arrays,
        _banded_candidate_pairs,
        _rerank_candidate_pairs,
        _with_srp_sigs,
        ensure_centroid_table,
        ensure_kmeans_exact_table,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    assign_c = ensure_kmeans_exact_table(spark, sf_dir, "raw", emb)
    cent = ensure_centroid_table(spark, sf_dir, "raw", emb, assign_c)
    fam = surviving.select(
        "doc_id", (F.col("doc_id") - F.col("doc_id") % 4).alias("vec_id")
    )
    pdim = (F.col("doc_id") % 4) * 7
    vecs = fam.join(emb, "vec_id").select(
        F.col("doc_id").alias("vec_id"),
        F.transform(
            F.col("embedding"),
            lambda x, i: F.when(
                i == pdim, x.cast("double") + F.lit(0.05)
            ).otherwise(x.cast("double")),
        ).alias("embedding"),
    ).localCheckpoint(eager=False)
    assign = _assign_to_centroids_arrays(vecs, cent)
    tagged = _with_srp_sigs(vecs, NEARDUP_TABLES).join(
        assign.select("vec_id", "cluster"), "vec_id"
    )
    cand = _banded_candidate_pairs(tagged, "cluster", NEARDUP_TABLES)
    return (
        _rerank_candidate_pairs(cand, vecs)
        .filter(F.col("sim") >= F.lit(SEMANTIC_THRESHOLD))
        .select(F.col("b_id").alias("doc_id"))
        .distinct()
    )


def _modal_neardup_dropped(
    hashes: DataFrame, surviving: DataFrame
) -> DataFrame:
    """Doc ids dropped by ONE modality near-dup stage of the funnel:
    the surviving docs' 56-bit perceptual hashes banded
    (``_phash_band_keys_with_hash`` — the blocking rule the image and
    audio dedup tiers share), band-collision candidates among survivors
    only, exact Hamming <= ``_PHASH_THRESHOLD`` verify, and any
    survivor matching a SMALLER surviving doc is dropped.  One function
    for both modality stages, so neither can drift from the standalone
    dedup operators whose machinery it reuses.

    r12 shape (guide §2.4, the ``_hash_incremental_screen`` rewrite on
    the self-join form): each side's hash rides THROUGH its band keys,
    so the verify needs no joins back to the hash table and the
    candidate ``.distinct()`` is gone — a pair colliding on several
    bands reaches the Hamming filter up to ``_PHASH_BANDS`` times,
    which the final per-doc ``distinct`` absorbs.  Three fewer
    exchanges per modality stage, value-identical output (same
    stage-count pins in test_pipeline_ops.py)."""
    from .multimodal import _PHASH_THRESHOLD, _phash_band_keys_with_hash

    surv_keys = _phash_band_keys_with_hash(hashes).join(
        surviving.select(F.col("doc_id").alias("b_id")), "b_id"
    )
    a_side = surv_keys.select(
        F.col("b_id").alias("a_id"),
        F.col("b_hash").alias("a_hash"),
        "band",
        "bval",
    )
    return (
        a_side.join(surv_keys, ["band", "bval"])
        .filter(F.col("a_id") < F.col("b_id"))
        .filter(
            F.bit_count(F.col("a_hash").bitwiseXOR(F.col("b_hash")))
            <= _PHASH_THRESHOLD
        )
        .select(F.col("b_id").alias("doc_id"))
        .distinct()
    )


def _curation_funnel(
    spark: SparkSession,
    sf_dir: str,
    image_stage: bool,
    audio_stage: bool = False,
    semantic_stage: bool = False,
) -> DataFrame:
    """The shared funnel body — ``curation_pipeline_full`` with
    ``semantic_stage`` / ``image_stage`` / ``audio_stage`` optionally
    inserting the SemDeDup, image and audio near-dup screens between
    text near-dedup and decontamination (one body so the declared
    funnels cannot drift on the text stages).

    r12 (guide §2.6, VERDICT r11 item 3): the media DECODES are
    independent of every funnel stage (fixture-only inputs), but the
    serial stage chain used to materialize them inline — the image
    decode ran only once the semantic stage finished, the audio decode
    only after the image stage.  They now materialize EAGERLY from a
    small thread pool started before the text stages, so the decode
    jobs back-fill cores while the text/semantic boundaries run; each
    stage's own survivor logic is unchanged (the stage chain is
    inherently sequential — each stage's drop set needs the previous
    stage's survivors)."""
    from concurrent.futures import ThreadPoolExecutor

    from .dedup import banded_signatures
    from .multimodal import _AFP_BASE, _PHASH_BASE, _fixture_doc_ids

    # the fixtures' doc ids resolve HERE, on the calling thread: the
    # lookup goes through load_table, which gets/sets/restores session
    # confs and so must never run from the decode threads
    img_ids = _fixture_doc_ids(spark, sf_dir, _PHASH_BASE) if image_stage else []
    aud_ids = _fixture_doc_ids(spark, sf_dir, _AFP_BASE) if audio_stage else []

    def _eager_img_hashes():
        from ..sources.readers import read_binary_dir
        from .multimodal import _funnel_image_fixture_dir, phash_hashes

        fixture = _funnel_image_fixture_dir(sf_dir, img_ids)
        files = read_binary_dir(spark, fixture, glob="*.png")
        return phash_hashes(
            files.select(
                F.regexp_extract(F.col("path"), r"asset_(\d+)\.png$", 1)
                .cast("bigint")
                .alias("asset_id"),
                "content",
            )
        ).localCheckpoint(eager=True)

    def _eager_aud_fps():
        from ..sources.readers import read_binary_dir
        from .multimodal import _funnel_audio_fixture_dir, audio_fingerprints

        afixture = _funnel_audio_fixture_dir(sf_dir, aud_ids)
        afiles = read_binary_dir(spark, afixture, glob="*.wav")
        return audio_fingerprints(
            afiles.select(
                F.regexp_extract(F.col("path"), r"asset_(\d+)\.wav$", 1)
                .cast("bigint")
                .alias("asset_id"),
                "content",
            )
        ).localCheckpoint(eager=True)

    pool = ThreadPoolExecutor(max_workers=2)
    img_fut = pool.submit(_eager_img_hashes) if image_stage else None
    aud_fut = pool.submit(_eager_aud_fps) if audio_stage else None
    try:
        return _curation_funnel_body(
            spark, sf_dir, image_stage, audio_stage, semantic_stage,
            banded_signatures, img_fut, aud_fut,
        )
    finally:
        pool.shutdown(wait=True)


def _curation_funnel_body(
    spark: SparkSession,
    sf_dir: str,
    image_stage: bool,
    audio_stage: bool,
    semantic_stage: bool,
    banded_signatures,
    img_fut,
    aud_fut,
) -> DataFrame:

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    probe = docs.filter(F.col("doc_id") == 0).select(
        F.col("text").alias("probe_text")
    )
    planted = docs.crossJoin(F.broadcast(probe)).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 13 == 0,
            F.concat(F.col("text"), F.lit(" "), F.substring("probe_text", 1, 80)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
        "lang",
    )
    corpus = planted.unionByName(
        planted.select((F.col("doc_id") + 200000).alias("doc_id"), "text", "lang")
    )
    toks = F.split(F.lower(F.col("text")), " ")
    n_words = F.size(toks).cast("long")
    mwl = F.round(
        F.length(F.translate(F.col("text"), " ", "")).cast("double") / n_words, 6
    )
    stop_ratio = F.round(
        F.size(
            F.filter(toks, lambda t: t.isin("the", "a", "of", "to", "and"))
        ).cast("double")
        / n_words,
        6,
    )
    q = corpus.withColumn(
        "keep", (n_words >= 30) & (mwl <= 5.0) & (stop_ratio >= 0.03)
    )
    kept = q.filter("keep")
    survivors = kept.groupBy(F.md5("text").alias("h")).agg(
        F.min("doc_id").alias("doc_id")
    )
    # stage-boundary lazy checkpoints: uniq/nd/clean each feed several
    # consumers (counts, banding sides, gram explode, the mix), and
    # without pinning them the STATIC plan replays the whole upstream
    # chain per consumer — measured 54 exchanges / 3,200 plan lines vs
    # 7 after; a production funnel materializes these boundaries anyway
    uniq = survivors.select("doc_id").join(
        kept.select("doc_id", "text", "lang"), "doc_id"
    ).localCheckpoint(eager=False)
    banded = banded_signatures(uniq.select("doc_id", "text"))
    nd_dropped = (
        banded.select(F.col("doc_id").alias("a_id"), "band", "sig")
        .join(banded.select(F.col("doc_id").alias("b_id"), "band", "sig"),
              ["band", "sig"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select(F.col("b_id").alias("doc_id"))
        .distinct()
    )
    nd = uniq.join(nd_dropped, "doc_id", "left_anti").localCheckpoint(
        eager=False
    )
    if semantic_stage:
        sem = nd.join(
            _semantic_stage_dropped(spark, sf_dir, nd), "doc_id", "left_anti"
        ).localCheckpoint(eager=False)
    else:
        sem = nd
    if image_stage:
        # decode materialized concurrently with the text stages (the
        # funnel-head thread pool); banding restricted to SURVIVING
        # docs on both sides — the dedup_images_phash pair rule over
        # the semantic survivors
        img_hashes = img_fut.result()
        img = sem.join(
            _modal_neardup_dropped(img_hashes, sem), "doc_id", "left_anti"
        ).localCheckpoint(eager=False)
    else:
        img = sem
    if audio_stage:
        # the same drop rule over the image stage's survivors — REAL WAV
        # decode (overlapped like the image tier's) + the shared
        # banding/Hamming machinery, one stage later
        aud_fps = aud_fut.result()
        aud = img.join(
            _modal_neardup_dropped(aud_fps, img), "doc_id", "left_anti"
        ).localCheckpoint(eager=False)
    else:
        aud = img
    probe_grams = (
        exploded_word_shingles(
            docs.filter(F.col("doc_id") == 0), "doc_id", "text", 8
        )
        .select("shingle")
        .distinct()
    )
    contaminated = (
        exploded_word_shingles(aud, "doc_id", "text", 8)
        .join(F.broadcast(probe_grams), "shingle")
        .select("doc_id")
        .distinct()
    )
    clean = aud.join(contaminated, "doc_id", "left_anti").localCheckpoint(
        eager=False
    )
    counts = clean.groupBy("lang").agg(F.count(F.lit(1)).alias("n_clean"))
    target = counts.agg(F.min("n_clean").alias("n_target"))
    cuts = counts.crossJoin(F.broadcast(target)).select(
        "lang",
        "n_clean",
        F.floor(
            F.col("n_target").cast("double") / F.col("n_clean") * F.lit(4294967296.0)
        ).alias("cut"),
    )
    hashv = F.conv(
        F.substring(F.md5(F.concat(F.lit("mix|"), F.col("doc_id"))), 1, 8), 16, 10
    ).cast("long")
    staged = clean.join(F.broadcast(cuts), "lang").withColumn(
        "fin", hashv < F.col("cut")
    )
    base = q.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_corpus"),
        F.sum(F.col("keep").cast("long")).alias("n_quality"),
    )
    u_cnt = uniq.groupBy("lang").agg(F.count(F.lit(1)).alias("n_unique"))
    nd_cnt = nd.groupBy("lang").agg(F.count(F.lit(1)).alias("n_neardup"))
    funnel = staged.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_clean"),
        F.sum(F.col("fin").cast("long")).alias("n_final"),
        F.min(F.when(F.col("fin"), F.col("doc_id"))).alias("min_final"),
        F.max(F.when(F.col("fin"), F.col("doc_id"))).alias("max_final"),
    )
    out = base.join(u_cnt, "lang", "left").join(nd_cnt, "lang", "left")
    cols = [
        "lang",
        "n_corpus",
        "n_quality",
        F.coalesce("n_unique", F.lit(0)).alias("n_unique"),
        F.coalesce("n_neardup", F.lit(0)).alias("n_neardup"),
    ]
    if semantic_stage:
        sem_cnt = sem.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_semdedup")
        )
        out = out.join(sem_cnt, "lang", "left")
        cols.append(F.coalesce("n_semdedup", F.lit(0)).alias("n_semdedup"))
    if image_stage:
        img_cnt = img.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_imgdedup")
        )
        out = out.join(img_cnt, "lang", "left")
        cols.append(F.coalesce("n_imgdedup", F.lit(0)).alias("n_imgdedup"))
    if audio_stage:
        aud_cnt = aud.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_auddedup")
        )
        out = out.join(aud_cnt, "lang", "left")
        cols.append(F.coalesce("n_auddedup", F.lit(0)).alias("n_auddedup"))
    return out.join(funnel, "lang", "left").select(
        *cols,
        F.coalesce("n_clean", F.lit(0)).alias("n_clean"),
        F.coalesce("n_final", F.lit(0)).alias("n_final"),
        "min_final",
        "max_final",
    )


def curation_pipeline_full_oracle_sql(
    minhash_ctes: str,
    image_stage: bool = False,
    audio_stage: bool = False,
    semantic_stage: bool = False,
) -> str:
    """DuckDB twin of ``curation_pipeline_full`` (and, with the stage
    flags, of ``curation_pipeline_multimodal`` /
    ``curation_pipeline_semantic``) — caller supplies the shared
    MinHash banding CTE block (``_MINHASH_CTES`` in the driver
    registry, formatted over the unique survivors) so the banding rule
    cannot drift from ``dedup_minhash_lsh``'s oracle; the SEMANTIC
    stage replays the family-vector derivation (corpus vector
    ``doc_id - doc_id%4`` perturbed +0.05 at dim ``(doc_id%4)·7``) and
    ``dedup_semantic``'s rule through the SAME shared CTE builders as
    the crawl's semantic tier; the image stage re-derives every
    surviving doc's perceptual hash relationally from the funnel
    fixture's ``_phash_grid`` arithmetic (salt "phf", base doc =
    doc_id - doc_id%4, pert = doc_id%4), and the audio stage its
    energy fingerprint from the ``_afp_amplitudes`` arithmetic (salt
    "auf", same base/pert rule)."""
    from .multimodal import (
        _AFP_BASE,
        _AFP_WINDOWS,
        _PHASH_BANDS,
        _PHASH_BASE,
        _PHASH_THRESHOLD,
    )
    from .similarity import (
        KMEANS_ITERATIONS,
        _kmeans_exact_cte_chain,
        _sql_enroll,
        _sql_final_centroids,
        _sql_semantic_match,
        _sql_srp_sigs,
    )

    banding = minhash_ctes.format(docs="SELECT doc_id, text FROM uniqd")
    if semantic_stage:
        chain = _kmeans_exact_cte_chain(cte_prefix="sx", with_kw=False)
        sem_ctes = f"""{chain.lstrip(",").lstrip()},
        sxcf AS MATERIALIZED ({_sql_final_centroids(
            "sxcomp", f"sxa{KMEANS_ITERATIONS}")}),
        fsvec AS MATERIALIZED (
            SELECT n.doc_id AS vec_id,
                   list_transform(range(0, len(e.embedding)), j ->
                       CASE WHEN j = (n.doc_id % 4) * 7
                            THEN CAST(e.embedding[j+1] AS DOUBLE) + 0.05
                            ELSE CAST(e.embedding[j+1] AS DOUBLE) END)
                       AS embedding
            FROM nd n JOIN embeddings e
              ON e.vec_id = n.doc_id - n.doc_id % 4),
        fscomp AS (
            SELECT vec_id, generate_subscripts(embedding, 1) AS d,
                   round(CAST(unnest(embedding) AS DOUBLE), 6) AS v
            FROM fsvec),
        fsassign AS MATERIALIZED ({_sql_enroll("fscomp", "sxcf")}),
        fssig AS MATERIALIZED ({_sql_srp_sigs("fsvec", "fsassign")}),
        fscand AS (
            SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
            FROM fssig a JOIN fssig b
              ON a.cluster = b.cluster AND a.tbl = b.tbl
             AND a.sig = b.sig AND a.vec_id < b.vec_id),
        fsmatch AS MATERIALIZED ({_sql_semantic_match("fscand", "fsvec")}),
        sem AS MATERIALIZED (SELECT * FROM nd
                WHERE doc_id NOT IN (SELECT vec_id FROM fsmatch)),"""
        sem_cnt_cte = (
            "semcnt AS (SELECT lang, count(*) AS n_semdedup "
            "FROM sem GROUP BY lang),"
        )
        sem_join = "LEFT JOIN semcnt sc USING (lang)"
        sem_col = "coalesce(sc.n_semdedup, 0) AS n_semdedup,"
    else:
        sem_ctes = "sem AS (SELECT * FROM nd),"
        sem_cnt_cte = sem_join = sem_col = ""
    if image_stage:
        img_ctes = f"""figrid AS (
            SELECT n.doc_id, bx.i AS bx, by.i AS by,
                   CAST('0x' || substr(md5('phf|'
                       || CAST(n.doc_id - n.doc_id % 4 AS VARCHAR) || '|'
                       || CAST(bx.i AS VARCHAR) || '|'
                       || CAST(by.i AS VARCHAR)), 1, 4) AS BIGINT) % 200
                   + CASE WHEN n.doc_id % 4 = 1 THEN 1
                          WHEN n.doc_id % 4 = 2 AND bx.i = 4 AND by.i = 3
                              THEN 37
                          WHEN n.doc_id % 4 = 3 AND bx.i = 5 AND by.i = 2
                              THEN 19
                          ELSE 0 END AS g
            FROM sem n, range(0, 8) bx(i), range(0, 8) by(i)
            WHERE n.doc_id < {_PHASH_BASE}),
        fihash AS (
            SELECT l.doc_id,
                   CAST(sum(CASE WHEN r.g > l.g
                                 THEN CAST(power(2, l.by * 7 + l.bx)
                                      AS BIGINT)
                                 ELSE 0 END) AS BIGINT) AS phash
            FROM figrid l JOIN figrid r
              ON r.doc_id = l.doc_id AND r.by = l.by AND r.bx = l.bx + 1
            GROUP BY l.doc_id),
        fibanded AS (
            SELECT doc_id, phash, b.b AS band,
                   (phash // CAST(power(2, b.b * 14) AS BIGINT)) % 16384
                       AS bval
            FROM fihash, range(0, {_PHASH_BANDS}) b(b)),
        fidrop AS (
            SELECT DISTINCT b.doc_id
            FROM fibanded a JOIN fibanded b
              ON a.band = b.band AND a.bval = b.bval
             AND a.doc_id < b.doc_id
            WHERE bit_count(xor(a.phash, b.phash)) <= {_PHASH_THRESHOLD}),
        img AS (SELECT * FROM sem
                WHERE doc_id NOT IN (SELECT doc_id FROM fidrop)),"""
        img_cnt_cte = (
            "imgcnt AS (SELECT lang, count(*) AS n_imgdedup "
            "FROM img GROUP BY lang),"
        )
        img_join = "LEFT JOIN imgcnt ic USING (lang)"
        img_col = "coalesce(ic.n_imgdedup, 0) AS n_imgdedup,"
    else:
        img_ctes = "img AS (SELECT * FROM sem),"
        img_cnt_cte = img_join = img_col = ""
    if audio_stage:
        aud_ctes = f"""fen AS (
            SELECT n.doc_id, w.i AS w,
                   (CAST('0x' || substr(md5('auf|'
                        || CAST(n.doc_id - n.doc_id % 8 AS VARCHAR) || '|'
                        || CAST(w.i AS VARCHAR)), 1, 4) AS BIGINT) % 2000)
                   * (CASE WHEN n.doc_id % 4 = 1 THEN 2 ELSE 1 END)
                   + (CASE WHEN n.doc_id % 4 = 2 AND w.i = 13 THEN 700
                           WHEN n.doc_id % 4 = 3 AND w.i = 29 THEN 700
                           ELSE 0 END) AS e
            FROM img n, range(0, {_AFP_WINDOWS}) w(i)
            WHERE n.doc_id < {_AFP_BASE}),
        fahash AS (
            SELECT l.doc_id,
                   CAST(sum(CASE WHEN r.e > l.e
                                 THEN CAST(power(2, l.w) AS BIGINT)
                                 ELSE 0 END) AS BIGINT) AS phash
            FROM fen l JOIN fen r
              ON r.doc_id = l.doc_id AND r.w = l.w + 1
            GROUP BY l.doc_id),
        fabanded AS (
            SELECT doc_id, phash, b.b AS band,
                   (phash // CAST(power(2, b.b * 14) AS BIGINT)) % 16384
                       AS bval
            FROM fahash, range(0, {_PHASH_BANDS}) b(b)),
        fadrop AS (
            SELECT DISTINCT b.doc_id
            FROM fabanded a JOIN fabanded b
              ON a.band = b.band AND a.bval = b.bval
             AND a.doc_id < b.doc_id
            WHERE bit_count(xor(a.phash, b.phash)) <= {_PHASH_THRESHOLD}),
        aud AS (SELECT * FROM img
                WHERE doc_id NOT IN (SELECT doc_id FROM fadrop)),"""
        aud_cnt_cte = (
            "audcnt AS (SELECT lang, count(*) AS n_auddedup "
            "FROM aud GROUP BY lang),"
        )
        aud_join = "LEFT JOIN audcnt ac USING (lang)"
        aud_col = "coalesce(ac.n_auddedup, 0) AS n_auddedup,"
    else:
        aud_ctes = "aud AS (SELECT * FROM img),"
        aud_cnt_cte = aud_join = aud_col = ""
    return f"""
        WITH probe AS (SELECT text FROM documents WHERE doc_id = 0),
        planted AS (
            SELECT d.doc_id,
                   CASE WHEN d.doc_id % 13 = 0
                        THEN d.text || ' ' || substr(p.text, 1, 80)
                        ELSE d.text END AS text,
                   d.lang
            FROM documents d CROSS JOIN probe p),
        corpus AS (
            SELECT doc_id, text, lang FROM planted
            UNION ALL
            SELECT doc_id + 200000, text, lang FROM planted),
        q AS (
            SELECT doc_id, text, lang,
                   (CAST(len(string_split(lower(text), ' ')) AS BIGINT) >= 30
                    AND round(CAST(len(replace(text, ' ', '')) AS DOUBLE)
                          / len(string_split(lower(text), ' ')), 6) <= 5.0
                    AND round(CAST(len(list_filter(
                              string_split(lower(text), ' '),
                              t -> t IN ('the','a','of','to','and')))
                          AS DOUBLE)
                          / len(string_split(lower(text), ' ')), 6) >= 0.03)
                       AS keep
            FROM corpus),
        kept AS (SELECT * FROM q WHERE keep),
        surv AS (SELECT md5(text) AS h, min(doc_id) AS doc_id
                 FROM kept GROUP BY 1),
        uniqd AS (SELECT s.doc_id, k.text, k.lang
                  FROM surv s JOIN kept k USING (doc_id)),
        {banding},
        nddrop AS (
            SELECT DISTINCT b.doc_id
            FROM banded a JOIN banded b
              ON a.b = b.b AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
        nd AS (SELECT * FROM uniqd
               WHERE doc_id NOT IN (SELECT doc_id FROM nddrop)),
        {sem_ctes}
        {img_ctes}
        {aud_ctes}
        pg AS (
            SELECT DISTINCT g AS shingle FROM (
                SELECT unnest(list_transform(range(1, greatest(len(t) - 6, 1)),
                           i -> array_to_string(t[i:i+7], ' '))) AS g
                FROM (SELECT string_split(lower(text), ' ') AS t
                      FROM documents WHERE doc_id = 0))),
        contaminated AS (
            SELECT DISTINCT doc_id FROM (
                SELECT doc_id,
                       unnest(list_transform(range(1, greatest(len(t) - 6, 1)),
                           i -> array_to_string(t[i:i+7], ' '))) AS g
                FROM (SELECT doc_id, string_split(lower(text), ' ') AS t
                      FROM aud)) x
            JOIN pg ON x.g = pg.shingle),
        clean AS (SELECT * FROM aud
                  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
        counts AS (SELECT lang, count(*) AS n_clean FROM clean GROUP BY lang),
        cuts AS (
            SELECT lang,
                   CAST(floor(
                        CAST((SELECT min(n_clean) FROM counts) AS DOUBLE)
                        / n_clean * 4294967296.0) AS BIGINT) AS cut
            FROM counts),
        staged AS (
            SELECT c.lang, c.doc_id,
                   (CAST('0x' || substr(
                        md5('mix|' || CAST(c.doc_id AS VARCHAR)), 1, 8)
                     AS BIGINT) < k.cut) AS fin
            FROM clean c JOIN cuts k USING (lang)),
        base AS (
            SELECT lang, count(*) AS n_corpus,
                   CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_quality
            FROM q GROUP BY lang),
        ucnt AS (SELECT lang, count(*) AS n_unique FROM uniqd GROUP BY lang),
        ndcnt AS (SELECT lang, count(*) AS n_neardup FROM nd GROUP BY lang),
        {sem_cnt_cte}
        {img_cnt_cte}
        {aud_cnt_cte}
        funnel AS (
            SELECT lang, count(*) AS n_clean,
                   CAST(sum(CASE WHEN fin THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_final,
                   min(CASE WHEN fin THEN doc_id END) AS min_final,
                   max(CASE WHEN fin THEN doc_id END) AS max_final
            FROM staged GROUP BY lang)
        SELECT b.lang, b.n_corpus, b.n_quality,
               coalesce(u.n_unique, 0) AS n_unique,
               coalesce(nc.n_neardup, 0) AS n_neardup,
               {sem_col}
               {img_col}
               {aud_col}
               coalesce(f.n_clean, 0) AS n_clean,
               coalesce(f.n_final, 0) AS n_final,
               f.min_final, f.max_final
        FROM base b
        LEFT JOIN ucnt u USING (lang)
        LEFT JOIN ndcnt nc USING (lang)
        {sem_join}
        {img_join}
        {aud_join}
        LEFT JOIN funnel f USING (lang)
    """


def split_leakage_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train→test SPLIT-LEAKAGE audit: for every test-split document,
    how many of its distinct word 8-grams also occur anywhere in the
    train split — the self-contamination check a pipeline runs after
    splitting (near-duplicate documents landing on opposite sides of a
    hash split are the classic eval-inflation bug; dedup-then-split is
    the cure, and this query is the detector that proves it worked).

    Split assignment is the SAME md5-prefix rule as
    ``deterministic_split`` (hash splits make membership itself
    reproducible and oracle-checkable).  Dataflow: distinct train grams
    ⋈ distinct test (doc, gram) pairs on the gram — a key-bounded
    shuffle join on both sides (no broadcast: at 100 TB BOTH gram sets
    are corpus-scale; the join key is the gram so co-partitioning is
    free), then one per-doc count.  Reports n_grams / n_leaked per test
    doc (docs with < 8 tokens have no grams and drop out, mirrored by
    the oracle)."""
    return _leakage_over(load_table(spark, sf_dir, "documents"))


def _leakage_over(docs: DataFrame) -> DataFrame:
    """The leakage core over an arbitrary (doc_id, text) frame — shared
    by the raw-corpus detector and the after-dedup twin."""
    from ..functions.hashing import shingles, tokens

    prefix = F.substring(
        F.md5(F.concat(F.lit("split1|"), F.col("doc_id"))), 1, 2
    )
    split = (
        F.when(prefix < "cc", "train")
        .when(prefix < "e6", "val")
        .otherwise("test")
    )
    grams = docs.select(
        "doc_id",
        split.alias("split"),
        F.explode(shingles(tokens(F.col("text")), 8)).alias("g"),
    )
    train_g = (
        grams.filter(F.col("split") == "train")
        .select("g")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    test_g = (
        grams.filter(F.col("split") == "test").select("doc_id", "g").distinct()
    )
    return (
        test_g.join(train_g, "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_leaked"),
        )
    )


def split_leakage_after_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CURE, quantified: near-dup cluster dedup (MinHash-LSH pairs →
    connected components → keep the min-doc_id survivor per cluster)
    applied BEFORE the hash split, then the same leakage audit as
    ``split_leakage_check`` over the surviving corpus.  On this corpus
    the detector finds test docs leaking 8-grams from train
    (near-duplicates straddling the split); after cluster dedup the
    leaked set shrinks — dedup-then-split is the pipeline ordering this
    pair of queries justifies with numbers (asserted leaked_after <
    leaked_before in tests/test_llm_ops.py).  Survivor set = the
    distinct cluster ids (each cluster's min label IS a member doc)."""
    from .dedup import minhash_pairs
    from .graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_pairs(docs.select("doc_id", "text"))
    edges = undirected(
        pairs.select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
    )
    comp = connected_components(spark, edges)
    clusters = (
        docs.select("doc_id")
        .join(comp, docs.doc_id == comp.node, "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias("cluster_id"),
        )
    )
    survivors = clusters.select(F.col("cluster_id").alias("doc_id")).distinct()
    return _leakage_over(docs.join(survivors, "doc_id"))


# The unified ingest batch: one crawl delivery per corpus doc d, re-idded
# +600000 — text class by d % 4 (0 exact copy / 1 near copy, the
# AUGMENTED_DOCS_SQL drop-last-3 rule / 2-3 genuinely new: every token
# prefixed with a per-doc salt, so every shingle differs and no band can
# collide).  Perturb against the ORIGINAL doc_id inside the subquery,
# re-id outside (the lateral-alias discipline).
INGEST_BATCH_SQL = """
    SELECT doc_id + 600000 AS doc_id, text FROM (
        SELECT doc_id,
               CASE WHEN doc_id % 4 = 0 THEN text
                    WHEN doc_id % 4 = 1 THEN array_to_string(
                        (string_split(text, ' '))[1:greatest(len(string_split(text, ' ')) - 3, 1)],
                        ' ')
                    ELSE array_to_string(list_transform(
                        string_split(text, ' '),
                        t -> 'z' || CAST(doc_id AS VARCHAR) || t), ' ')
               END AS text
        FROM documents)
"""

# corpus ∪ the ingest batch — what the unified screen's banding runs over
INGEST_DOCS_SQL = (
    "SELECT doc_id, text FROM documents UNION ALL" + INGEST_BATCH_SQL
)


def ingest_batch_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The unified ingest batch (see ``INGEST_BATCH_SQL`` — must stay
    expression-for-expression equivalent): (doc_id + 600000, text) with
    the text class decided by d % 4."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split(F.col("text"), " ")
    near = F.array_join(
        F.slice(toks, 1, F.greatest(F.size(toks) - 3, F.lit(1))), " "
    )
    new = F.array_join(
        F.transform(
            toks,
            lambda t: F.concat(F.lit("z"), F.col("doc_id").cast("string"), t),
        ),
        " ",
    )
    return docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 4 == 0, F.col("text"))
        .when(F.col("doc_id") % 4 == 1, near)
        .otherwise(new)
        .alias("text"),
    ).select((F.col("doc_id") + 600000).alias("doc_id"), "text")


# The unified crawl's SEMANTIC-tier batch vectors (r11).  Every corpus
# doc with an embedding (vec_id = doc_id by corpus construction)
# contributes one batch vector per delivery, re-idded to the delivery's
# doc_id space; the residue classes interlock with the text/media
# classes so the semantic disposition is non-vacuous AND the precedence
# shows in data (see ingest_screen_multimodal's docstring).  Perturb
# against the ORIGINAL vec_id in an inner subquery, re-id outside — the
# lateral-alias discipline of _INC_B1_SQL.  Arms:
#   d%16==2 / d%8==5   near-copy of the corpus vector (+0.05 at one
#                      dim; cosine ≈ 0.9988 → semantic dup vs day-0
#                      state) — dim d%len for ingest 1, (d+1)%len for
#                      ingest 2;
#   d%8==3 (ingest 2)  near-copy of ingest 1's NEGATED vector —
#                      semantic dup IFF ingest-1 doc d was kept and
#                      folded (d>=256: no audio asset, text new → kept;
#                      d<256: audio-rejected → never folded — the
#                      cross-tier fold coupling a stale-state
#                      implementation gets wrong);
#   d%8==6 (ingest 2)  ingest 1's negated vector VERBATIM — semantic
#                      dup IFF folded, surfacing as a boolean under the
#                      'exact' disposition (same doc repeats its text);
#   else               genuinely new — NEGATED corpus vector in ingest
#                      1 (max natural cosine ≈ 0.47 on this corpus, so
#                      it survives and folds), HALF-FLIPPED (sign-flip
#                      dims >= len/2: cosine ≈ 0 to both x and -x) in
#                      ingest 2 so round-2 freshness never collides
#                      with round-1 folds.
INGEST_EMB1_SQL = """
    SELECT vec_id + 600000 AS vec_id, embedding FROM (
        SELECT vec_id,
               CASE WHEN vec_id % 16 = 2 OR vec_id % 8 = 5 THEN
                   list_transform(range(0, len(embedding)), j ->
                       CASE WHEN j = vec_id % len(embedding)
                            THEN CAST(embedding[j+1] AS DOUBLE) + 0.05
                            ELSE CAST(embedding[j+1] AS DOUBLE) END)
               ELSE list_transform(embedding, x -> -CAST(x AS DOUBLE)) END
                   AS embedding
        FROM embeddings)
"""
INGEST_EMB2_SQL = """
    SELECT vec_id + 700000 AS vec_id, embedding FROM (
        SELECT vec_id,
               CASE WHEN vec_id % 16 = 2 OR vec_id % 8 = 5 THEN
                   list_transform(range(0, len(embedding)), j ->
                       CASE WHEN j = (vec_id + 1) % len(embedding)
                            THEN CAST(embedding[j+1] AS DOUBLE) + 0.05
                            ELSE CAST(embedding[j+1] AS DOUBLE) END)
               WHEN vec_id % 8 = 3 THEN
                   list_transform(range(0, len(embedding)), j ->
                       CASE WHEN j = vec_id % len(embedding)
                            THEN -CAST(embedding[j+1] AS DOUBLE) + 0.05
                            ELSE -CAST(embedding[j+1] AS DOUBLE) END)
               WHEN vec_id % 8 = 6 THEN
                   list_transform(embedding, x -> -CAST(x AS DOUBLE))
               ELSE
                   list_transform(range(0, len(embedding)), j ->
                       CASE WHEN j < len(embedding) // 2
                            THEN CAST(embedding[j+1] AS DOUBLE)
                            ELSE -CAST(embedding[j+1] AS DOUBLE) END)
               END AS embedding
        FROM embeddings)
"""


def ingest_embedding_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest 1's batch vectors (see ``INGEST_EMB1_SQL`` — must stay
    expression-for-expression equivalent)."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    d = F.size("embedding")
    p0 = F.col("vec_id") % d
    pert0 = F.transform(
        F.col("embedding"),
        lambda x, i: F.when(i == p0, x.cast("double") + F.lit(0.05)).otherwise(
            x.cast("double")
        ),
    )
    neg = F.transform(F.col("embedding"), lambda x: -x.cast("double"))
    sem_class = (F.col("vec_id") % 16 == 2) | (F.col("vec_id") % 8 == 5)
    return emb.select(
        "vec_id", F.when(sem_class, pert0).otherwise(neg).alias("embedding")
    ).select((F.col("vec_id") + 600000).alias("vec_id"), "embedding")


def ingest2_embedding_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest 2's batch vectors (see ``INGEST_EMB2_SQL`` — must stay
    expression-for-expression equivalent)."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    d = F.size("embedding")
    p1 = (F.col("vec_id") + 1) % d
    p0 = F.col("vec_id") % d
    pert1 = F.transform(
        F.col("embedding"),
        lambda x, i: F.when(i == p1, x.cast("double") + F.lit(0.05)).otherwise(
            x.cast("double")
        ),
    )
    negpert = F.transform(
        F.col("embedding"),
        lambda x, i: F.when(i == p0, -x.cast("double") + F.lit(0.05)).otherwise(
            -x.cast("double")
        ),
    )
    neg = F.transform(F.col("embedding"), lambda x: -x.cast("double"))
    half = (d / 2).cast("int")
    halfflip = F.transform(
        F.col("embedding"),
        lambda x, i: F.when(i < half, x.cast("double")).otherwise(
            -x.cast("double")
        ),
    )
    sem_class = (F.col("vec_id") % 16 == 2) | (F.col("vec_id") % 8 == 5)
    return emb.select(
        "vec_id",
        F.when(sem_class, pert1)
        .when(F.col("vec_id") % 8 == 3, negpert)
        .when(F.col("vec_id") % 8 == 6, neg)
        .otherwise(halfflip)
        .alias("embedding"),
    ).select((F.col("vec_id") + 700000).alias("vec_id"), "embedding")


def _crawl_semantic_parts(
    bvecs: DataFrame,
    cent: DataFrame,
    state_bands: DataFrame,
    state_vecs: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """One delivery's SEMANTIC screen parts: (assign, band_keys,
    sem_rep) — exact-decimal assign-only enrollment against the
    persisted centroids (broadcast, no refit), salted SRP banding keys,
    and the membership screen against the given band/vector state
    reduced to the crawl's boolean (doc_id, semantic_hit).  All
    machinery is ``dedup_semantic_incremental``'s, shared verbatim;
    vec_id == the delivery's doc_id by fixture construction."""
    from .similarity import (
        NEARDUP_TABLES,
        _assign_to_centroids_arrays,
        _semantic_screen,
        _sig_keys,
        _with_srp_sigs,
    )

    # LAZY checkpoint (r12, guide §2.6): every consumer of the
    # enrollment — banding keys, the membership screen, the drift
    # aggregate, the fold deltas — sits inside (or after) the caller's
    # report job, so materializing the kernel eagerly here only
    # SERIALIZED it in front of that job; lazy lets the kernel's result
    # stage overlap the media decodes and text probes inside the same
    # job, and later consumers reuse the persisted blocks as before.
    assign = _assign_to_centroids_arrays(bvecs, cent).localCheckpoint(
        eager=False
    )
    keys = _sig_keys(
        _with_srp_sigs(bvecs, NEARDUP_TABLES).join(
            assign.select("vec_id", "cluster"), "vec_id"
        ),
        "cluster",
        NEARDUP_TABLES,
    )
    rep = _semantic_screen(keys, assign, state_bands, state_vecs, bvecs).select(
        F.col("vec_id").alias("doc_id"), (~F.col("kept")).alias("semantic_hit")
    )
    return assign, keys, rep


def ingest_screen_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DAILY-CRAWL integration query (VERDICT r8 item 4; SEMANTIC
    tier added r11 — VERDICT r10 item 2): ONE batch of multimodal
    documents runs EVERY tier's incremental screen in one pass — exact
    text hash, MinHash-LSH text near-dup, SemDeDup embedding screen,
    image perceptual hash, audio energy fingerprint — against each
    tier's PERSISTED corpus state tables (literally the same bucketed
    tables the standalone incremental queries maintain:
    ``corpus_hash_`` / ``corpus_bands_`` from
    ``dedup_incremental_bucketed``, ``semv_bands_`` / ``semv_vecs_`` /
    ``semv_score_`` + the persisted k-means centroids from
    ``dedup_semantic_incremental``, ``_phash_state_tables``,
    ``_afp_state_tables``), and reports ONE per-doc disposition with
    pinned precedence exact > near > semantic > image > audio > kept.

    The batch (``ingest_batch_docs`` + ``ingest_embedding_batch`` + the
    two media fixtures): per corpus doc d, text by d%4 (exact copy /
    near copy / new), an embedding for every doc with a corpus vector
    (near-copy for d%16==2 and d%8==5, else negated-new), an image
    asset for d < 256 (near-copy of the corpus family for d%8 in (0,2),
    else new) and an audio clip (near-copy for d%8 in (1,3), else new).
    The residue classes interlock so every disposition is non-vacuously
    populated AND the precedence shows in data: d%8 == 0 docs are
    exact-text AND image-dup (report 'exact' — is_image_dup stays true
    in the booleans), d%8 == 1 near-text AND audio-dup ('near'),
    d%16 == 2 semantic AND image-dup ('semantic' — the new rung's
    precedence over media), d%16 == 10 image-only ('image'),
    d%8 == 5 near-text AND semantic ('near' — text outranks the
    embedding tier), d%8 == 3 audio-only ('audio'), d%8 in (6,7)
    nothing ('kept').

    Output: (doc_id, is_exact_dup, is_near_dup, is_semantic_dup,
    is_image_dup, is_audio_dup, disposition, drift_ratio,
    refit_recommended) for every batch doc — the last two are the
    delivery-level IN-LOOP drift trigger (``_drift_trigger_frame``
    against the STORED corpus enrollment table; VERDICT r10 item 6: the
    crawl itself surfaces embedding drift).  The oracle replays all
    five screens AND the trigger relationally in one statement.

    At 100 TB this is the production ingest: every screen is a
    batch×state membership probe against pre-bucketed state (corpus
    sides exchange-free — the ``dedup_incremental_bucketed`` plan,
    three times more for the semantic and media tiers), the semantic
    enrollment is a broadcast-centroid join (no refit, no corpus scan),
    media decodes are map-only over the batch's own files, the drift
    trigger reads stored dist2 only, and the final disposition join is
    batch-sized — total exchanges O(batch) regardless of corpus size
    (pinned in test_bucketing.py)."""
    from .dedup import _text_state_tables
    from .multimodal import (
        _afp_state_tables,
        _ingest_audio_batch_fixture_dir,
        _ingest_image_batch_fixture_dir,
        _phash_state_tables,
    )
    from .similarity import _drift_trigger_frame, _semantic_state_tables

    batch = ingest_batch_docs(spark, sf_dir)
    corpus_hashes, corpus_bands = _text_state_tables(spark, sf_dir)
    img_fps = _media_batch_fps(
        spark, _ingest_image_batch_fixture_dir(spark, sf_dir), "png"
    )
    aud_fps = _media_batch_fps(
        spark, _ingest_audio_batch_fixture_dir(spark, sf_dir), "wav"
    )
    _, _, cent, sem_bands, sem_vecs, sem_score = _semantic_state_tables(
        spark, sf_dir
    )
    b1v = ingest_embedding_batch(spark, sf_dir)
    a1, _, sem_rep = _crawl_semantic_parts(b1v, cent, sem_bands, sem_vecs)
    drift = _drift_trigger_frame(sem_score, a1)
    return _multimodal_screen(
        batch,
        (corpus_hashes, corpus_bands),
        _phash_state_tables(spark, sf_dir),
        _afp_state_tables(spark, sf_dir),
        img_fps,
        aud_fps,
        600000,
        sem_rep=sem_rep,
    ).crossJoin(drift)


def _media_batch_fps(spark: SparkSession, fixture_dir: str, suffix: str):
    """One media delivery's fingerprints: binaryFile scan of the batch
    directory, decode + 56-bit hash (PNG → ``phash_hashes``, WAV →
    ``audio_fingerprints``), lazily checkpointed — the frame feeds both
    the membership probe and (in the tworound loop) the fold delta."""
    from ..sources.readers import read_binary_dir
    from .multimodal import audio_fingerprints, phash_hashes

    fingerprint = phash_hashes if suffix == "png" else audio_fingerprints
    files = read_binary_dir(spark, fixture_dir, glob=f"*.{suffix}")
    return fingerprint(
        files.select(
            F.regexp_extract(F.col("path"), rf"asset_(\d+)\.{suffix}$", 1)
            .cast("bigint")
            .alias("asset_id"),
            "content",
        )
    ).localCheckpoint(eager=False)


def _multimodal_screen(
    batch: DataFrame,
    text_state: tuple[DataFrame, DataFrame],
    img_state: tuple[DataFrame, DataFrame],
    aud_state: tuple[DataFrame, DataFrame],
    img_fps: DataFrame,
    aud_fps: DataFrame,
    id_base: int,
    sem_rep: DataFrame | None = None,
) -> DataFrame:
    """One multimodal batch through all FIVE incremental screens
    against GIVEN state-table pairs — shared by the single-ingest
    screen (day-0 states), the tworound loop (folded states) and the
    streaming crawl, so the three cannot drift.  Returns (doc_id,
    is_exact_dup, is_near_dup, is_semantic_dup, is_image_dup,
    is_audio_dup, disposition) with the pinned precedence
    exact > near > semantic > image > audio > kept (SemDeDup's
    cheap-screens-first ordering: the embedding tier outranks the
    media tiers because a semantic text dup should read as a text-level
    rejection even when its attachments also match).  ``sem_rep`` is
    the semantic tier's (doc_id, semantic_hit) frame from
    ``_crawl_semantic_parts`` — docs without an embedding simply have
    no row and coalesce to False; media asset ids are base doc ids,
    re-keyed by ``id_base`` to the batch's doc ids."""
    from .dedup import _screen_batch
    from .multimodal import _hash_incremental_screen

    text_rep = _screen_batch(batch, text_state[0], text_state[1])
    img_rep = _hash_incremental_screen(
        img_state[0], img_state[1], img_fps
    ).select(
        (F.col("asset_id") + id_base).alias("doc_id"),
        (~F.col("kept")).alias("image_hit"),
    )
    aud_rep = _hash_incremental_screen(
        aud_state[0], aud_state[1], aud_fps
    ).select(
        (F.col("asset_id") + id_base).alias("doc_id"),
        (~F.col("kept")).alias("audio_hit"),
    )
    joined = text_rep.join(img_rep, "doc_id", "left").join(
        aud_rep, "doc_id", "left"
    )
    if sem_rep is not None:
        joined = joined.join(sem_rep, "doc_id", "left")
        is_sem = F.coalesce(F.col("semantic_hit"), F.lit(False))
    else:
        is_sem = F.lit(False)
    is_img = F.coalesce(F.col("image_hit"), F.lit(False))
    is_aud = F.coalesce(F.col("audio_hit"), F.lit(False))
    disposition = (
        F.when(F.col("is_exact_dup"), "exact")
        .when(F.col("is_near_dup"), "near")
        .when(is_sem, "semantic")
        .when(is_img, "image")
        .when(is_aud, "audio")
        .otherwise("kept")
    )
    return joined.select(
        "doc_id",
        "is_exact_dup",
        "is_near_dup",
        is_sem.alias("is_semantic_dup"),
        is_img.alias("is_image_dup"),
        is_aud.alias("is_audio_dup"),
        disposition.alias("disposition"),
    )


def ingest_screen_oracle_sql(minhash_ctes: str) -> str:
    """DuckDB twin of ``ingest_screen_multimodal``: the text screens are
    the ``dedup_incremental`` oracle over ``INGEST_DOCS_SQL``; the
    SEMANTIC tier replays the exact-k-means chain, enrollment, SRP
    banding, membership screen and drift trigger through the SHARED
    ``crawl_semantic_ctes_pre`` builder (the same sub-spellings as the
    ``dedup_semantic_incremental`` oracle); the media tiers re-derive
    the corpus state families AND the ingest batch's assets relationally
    through the SHARED derive/hit CTE builders (the same spellings the
    tworound oracle composes), and the final select applies the
    precedence CASE plus the delivery-level drift columns."""
    from .multimodal import _AFP_BASE, _PHASH_BASE
    from .similarity import crawl_semantic_ctes_pre, crawl_semantic_drift_cte

    banding = minhash_ctes.format(docs=INGEST_DOCS_SQL)
    semantic = crawl_semantic_ctes_pre(INGEST_EMB1_SQL)
    sdrift = crawl_semantic_drift_cte("sxfit1", "sxbat1")
    return f"""
        WITH {banding},
        corpus_banded AS (
            SELECT DISTINCT b, bsig FROM banded WHERE doc_id < 600000),
        near AS (
            SELECT DISTINCT n.doc_id
            FROM banded n JOIN corpus_banded c
              ON n.b = c.b AND n.bsig = c.bsig
            WHERE n.doc_id >= 600000),
        corpus_h AS (
            SELECT DISTINCT md5(text) AS h FROM docs WHERE doc_id < 600000),
        new_docs AS (
            SELECT doc_id, md5(text) AS h FROM docs WHERE doc_id >= 600000),
        iids AS (SELECT doc_id FROM documents WHERE doc_id < {_PHASH_BASE}),
        aids AS (SELECT doc_id FROM documents WHERE doc_id < {_AFP_BASE}),
        iassets AS (
            {_corpus_asset_arms("iids", "ph")}
            UNION ALL
            SELECT doc_id, doc_id,
                   CASE WHEN doc_id % 8 IN (0, 2) THEN 3 ELSE 0 END,
                   CASE WHEN doc_id % 8 IN (0, 2) THEN 'ph' ELSE 'igb' END,
                   'b'
            FROM iids),
        aassets AS (
            {_corpus_asset_arms("aids", "au")}
            UNION ALL
            SELECT doc_id, doc_id,
                   CASE WHEN doc_id % 8 IN (1, 3) THEN 3 ELSE 0 END,
                   CASE WHEN doc_id % 8 IN (1, 3) THEN 'au' ELSE 'agb' END,
                   'b'
            FROM aids),
        {_img_derive_ctes()},
        {_aud_derive_ctes()},
        ihit AS ({_media_hit_cte("i", "s.side = 'c'", "b")}),
        ahit AS ({_media_hit_cte("a", "s.side = 'c'", "b")}){semantic},
        sxdrift1 AS ({sdrift})
        SELECT nd.doc_id,
               (ch.h IS NOT NULL) AS is_exact_dup,
               (nr.doc_id IS NOT NULL) AS is_near_dup,
               (sm.vec_id IS NOT NULL) AS is_semantic_dup,
               (ih.base IS NOT NULL) AS is_image_dup,
               (ah.base IS NOT NULL) AS is_audio_dup,
               CASE WHEN ch.h IS NOT NULL THEN 'exact'
                    WHEN nr.doc_id IS NOT NULL THEN 'near'
                    WHEN sm.vec_id IS NOT NULL THEN 'semantic'
                    WHEN ih.base IS NOT NULL THEN 'image'
                    WHEN ah.base IS NOT NULL THEN 'audio'
                    ELSE 'kept' END AS disposition,
               d.drift_ratio, d.refit_recommended
        FROM new_docs nd
        LEFT JOIN corpus_h ch ON nd.h = ch.h
        LEFT JOIN near nr ON nd.doc_id = nr.doc_id
        LEFT JOIN sxm1 sm ON sm.vec_id = nd.doc_id
        LEFT JOIN ihit ih ON ih.base + 600000 = nd.doc_id
        LEFT JOIN ahit ah ON ah.base + 600000 = nd.doc_id
        CROSS JOIN sxdrift1 d
    """


# The unified loop's SECOND text delivery (+700000): docs with d%8 == 6
# repeat their ingest-1 z-prefixed text EXACTLY (an exact dup IFF the
# ingest-1 doc — deterministically kept: new text, new media — was
# folded), the rest are fresh y-prefixed texts.  Same inner-subquery
# discipline as INGEST_BATCH_SQL.
INGEST2_BATCH_SQL = """
    SELECT doc_id + 700000 AS doc_id, text FROM (
        SELECT doc_id,
               CASE WHEN doc_id % 8 = 6 THEN array_to_string(list_transform(
                        string_split(text, ' '),
                        t -> 'z' || CAST(doc_id AS VARCHAR) || t), ' ')
                    ELSE array_to_string(list_transform(
                        string_split(text, ' '),
                        t -> 'y' || CAST(doc_id AS VARCHAR) || t), ' ')
               END AS text
        FROM documents)
"""

# corpus ∪ both deliveries — what the tworound banding runs over
INGEST_TWOROUND_DOCS_SQL = (
    "SELECT doc_id, text FROM documents UNION ALL"
    + INGEST_BATCH_SQL
    + " UNION ALL"
    + INGEST2_BATCH_SQL
)


def ingest2_batch_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The second unified delivery (see ``INGEST2_BATCH_SQL`` — must
    stay expression-for-expression equivalent)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split(F.col("text"), " ")

    def prefixed(letter: str):
        return F.array_join(
            F.transform(
                toks,
                lambda t: F.concat(
                    F.lit(letter), F.col("doc_id").cast("string"), t
                ),
            ),
            " ",
        )

    return docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 8 == 6, prefixed("z"))
        .otherwise(prefixed("y"))
        .alias("text"),
    ).select((F.col("doc_id") + 700000).alias("doc_id"), "text")


def ingest_deliveries_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both unified deliveries' documents in one frame — the world the
    multimodal crawl's stream split carves by doc_id range.  Named here,
    beside the two batch functions, so the split's fixture signature
    covers this module's source."""
    return ingest_batch_docs(spark, sf_dir).unionByName(
        ingest2_batch_docs(spark, sf_dir)
    )


def ingest_tworound_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The unified crawl LOOP — ``ingest_screen_multimodal`` is day 1's
    screen; this query runs TWO consecutive multimodal deliveries with
    the per-tier state FOLDED between them, all NINE state tables
    (text hash + bands, semantic bands + vectors + scores, image hash +
    bands, audio hash + bands), one pass each:

      ingest 1  the same multimodal batch as the unified screen runs
                through all FIVE screens against the day-0 states
                (``_multimodal_screen`` + ``_crawl_semantic_parts``,
                shared functions);
      fold      the KEPT docs' state rows — text md5 + band sigs,
                semantic SRP band keys + vectors + stored enrollments,
                image hashes + band keys, audio fingerprints + band
                keys — APPEND into this query's own bucketed state
                tables (``fold.fold_batch``: O(kept) appends under the
                crash-guard marker, threshold compaction; separate
                tables because the shared day-0 ones must stay
                corpus-only for the sibling queries' oracles).  A doc's
                vector/media rows fold IFF the DOC was kept — a
                rejected doc contributes nothing to any tier;
      ingest 2  the second delivery probes the FOLDED states: d%8 == 6
                docs repeat their ingest-1 text exactly (exact-dup IFF
                the fold happened — their ingest-1 twins are
                deterministically kept), carry a one-window re-record
                of their ingest-1 clip (audio-dup IFF folded) AND
                their ingest-1 embedding verbatim (semantic-dup IFF
                folded — three fold proofs on one doc while the
                disposition shows exact-first precedence); d%8 == 7
                docs carry a one-block retouch of their ingest-1 image
                (image-dup IFF folded); d%8 == 3 docs carry a
                near-copy of their ingest-1 EMBEDDING — semantic-dup
                IFF their ingest-1 twin was kept, which depends on the
                AUDIO screen (d < 256 audio-rejected → never folded;
                d >= 256 kept → folded): the cross-tier coupling a
                stale-state implementation gets wrong; everything else
                is fresh (half-flipped vectors) and stays kept.

    Output: (ingest, doc_id, is_exact_dup, is_near_dup,
    is_semantic_dup, is_image_dup, is_audio_dup, disposition,
    drift_ratio, refit_recommended) for both deliveries — the drift
    columns are the per-ingest IN-LOOP trigger against that ingest's
    score state (day-0 corpus enrollments for ingest 1; corpus ∪
    ingest-1 survivors' stored enrollments for ingest 2).  The oracle
    replays both screens AND all four modality folds as pure SQL
    (state2 = day-0 ∪ ingest-1 keeps), so the fold semantics are
    hash-verified across every tier at once — the tworound contract at
    integration width.

    At 100 TB this is the production crawl's day-over-day shape: each
    day screens O(batch) against nine pre-bucketed states, folds
    O(kept) rows (compacting a table once a bucket passes the
    threshold), and never touches corpus-sized data — the full loop
    the per-tier queries demonstrate piecewise, in one declared query."""
    from .dedup import _text_state_tables
    from .fold import TIERS, Delivery, fold_batch, prefixes
    from .multimodal import (
        _afp_state_tables,
        _ingest2_audio_batch_fixture_dir,
        _ingest2_image_batch_fixture_dir,
        _ingest_audio_batch_fixture_dir,
        _ingest_image_batch_fixture_dir,
        _phash_state_tables,
    )
    from .relational import corpus_tag
    from .similarity import _drift_trigger_frame, _semantic_state_tables

    tag = corpus_tag(sf_dir, "documents")
    b1 = ingest_batch_docs(spark, sf_dir)
    b2 = ingest2_batch_docs(spark, sf_dir)
    # day-0 states (the shared corpus-only tables)
    th, tb = _text_state_tables(spark, sf_dir)
    ih, ib = _phash_state_tables(spark, sf_dir)
    ah, ab = _afp_state_tables(spark, sf_dir)
    _, _, cent, semb, semv, sems = _semantic_state_tables(spark, sf_dir)
    img1 = _media_batch_fps(
        spark, _ingest_image_batch_fixture_dir(spark, sf_dir), "png"
    )
    aud1 = _media_batch_fps(
        spark, _ingest_audio_batch_fixture_dir(spark, sf_dir), "wav"
    )
    b1v = ingest_embedding_batch(spark, sf_dir)
    a1, keys1, sem_rep1 = _crawl_semantic_parts(b1v, cent, semb, semv)
    r1 = _multimodal_screen(
        b1,
        (th, tb),
        (ih, ib),
        (ah, ab),
        img1,
        aud1,
        600000,
        sem_rep=sem_rep1,
        # lazy (r12): the folds write mmr3_* tables, never read by r1's
        # day-0 probe plan — no read-your-own-writes hazard, and eager
        # only serialized the screen job in front of the fold/union
    ).localCheckpoint(eager=False)
    # the folded states: each day-0 table copied once (pay-once state
    # reused, no re-decode) plus the keeps' rows.  GENERATION mmr3_:
    # the fold contents depend on which docs the five-tier screen keeps
    # (r11's mmr2_) and on the folded media asset-id rule (doc_id*10+3,
    # shared with the streaming twin) — a warehouse holding an older
    # generation must not satisfy the idempotence guard (the
    # all-parameters keying discipline; retired generations are in
    # relational.RETIRED_STEMS)
    fh, fb, fih, fib, fah, fab, fsemb, fsemv, fsems = fold_batch(
        spark,
        tag,
        zip(
            prefixes("mmr3_", TIERS),
            TIERS,
            (th, tb, ih, ib, ah, ab, semb, semv, sems),
        ),
        Delivery(b1, 600000, img1, aud1, b1v, a1, keys1),
        r1.filter(F.col("disposition") == "kept").select("doc_id"),
    )
    img2 = _media_batch_fps(
        spark, _ingest2_image_batch_fixture_dir(spark, sf_dir), "png"
    )
    aud2 = _media_batch_fps(
        spark, _ingest2_audio_batch_fixture_dir(spark, sf_dir), "wav"
    )
    b2v = ingest2_embedding_batch(spark, sf_dir)
    a2, _, sem_rep2 = _crawl_semantic_parts(b2v, cent, fsemb, fsemv)
    r2 = _multimodal_screen(
        b2,
        (fh, fb),
        (fih, fib),
        (fah, fab),
        img2,
        aud2,
        700000,
        sem_rep=sem_rep2,
    )
    # the post-fold drift evaluation, per ingest against ITS score state
    d1 = _drift_trigger_frame(sems, a1)
    d2 = _drift_trigger_frame(fsems, a2)
    return (
        r1.select(F.lit(1).alias("ingest"), "*")
        .crossJoin(d1)
        .unionByName(r2.select(F.lit(2).alias("ingest"), "*").crossJoin(d2))
    )


def _corpus_asset_arms(ids_cte: str, salt: str) -> str:
    """The corpus media-state families as UNION arms (side 'c'): base
    asset per doc, gain/brightness copy per 4th, one-site edit per 8th
    — one spelling for both ingest oracles and both modalities."""
    return f"""SELECT doc_id * 10 AS id, doc_id, 0 AS pert,
                   '{salt}' AS salt, 'c' AS side
            FROM {ids_cte}
            UNION ALL
            SELECT doc_id * 10 + 1, doc_id, 1, '{salt}', 'c' FROM {ids_cte}
            WHERE doc_id % 4 = 0
            UNION ALL
            SELECT doc_id * 10 + 2, doc_id, 2, '{salt}', 'c' FROM {ids_cte}
            WHERE doc_id % 8 = 0"""


def _img_derive_ctes() -> str:
    """Continuation CTEs deriving image hashes from an ``iassets``
    relation (id, doc_id, pert, salt, side): the ``_phash_grid``
    arithmetic → 56-bit hash → 14-bit bands.  Shared by both ingest
    oracles so the derivation cannot drift."""
    from .multimodal import _PHASH_BANDS, _PHASH_GRID

    return f"""igrid AS (
            SELECT a.id, a.side, bx.i AS bx, by.i AS by,
                   CAST('0x' || substr(md5(a.salt || '|'
                        || CAST(a.doc_id AS VARCHAR) || '|'
                        || CAST(bx.i AS VARCHAR) || '|'
                        || CAST(by.i AS VARCHAR)), 1, 4) AS BIGINT) % 200
                   + CASE WHEN a.pert = 1 THEN 1
                          WHEN a.pert = 2 AND bx.i = 4 AND by.i = 3 THEN 37
                          WHEN a.pert = 3 AND bx.i = 5 AND by.i = 2 THEN 19
                          ELSE 0 END AS g
            FROM iassets a, range(0, {_PHASH_GRID}) bx(i),
                 range(0, {_PHASH_GRID}) by(i)),
        ihashes AS (
            SELECT l.id, l.side,
                   CAST(sum(CASE WHEN r.g > l.g
                                 THEN CAST(power(2, l.by * 7 + l.bx)
                                      AS BIGINT)
                                 ELSE 0 END) AS BIGINT) AS phash
            FROM igrid l JOIN igrid r
              ON r.id = l.id AND r.side = l.side
             AND r.by = l.by AND r.bx = l.bx + 1
            GROUP BY l.id, l.side),
        ibanded AS (
            SELECT id, side, phash, b.b AS band,
                   (phash // CAST(power(2, b.b * 14) AS BIGINT)) % 16384
                       AS bval
            FROM ihashes, range(0, {_PHASH_BANDS}) b(b))"""


def _aud_derive_ctes() -> str:
    """Continuation CTEs deriving audio fingerprints from an
    ``aassets`` relation — the ``_afp_amplitudes`` arithmetic →
    56-bit contour fingerprint → 14-bit bands."""
    from .multimodal import _AFP_WINDOWS, _PHASH_BANDS

    return f"""aen AS (
            SELECT a.id, a.side, w.i AS w,
                   (CAST('0x' || substr(md5(a.salt || '|'
                        || CAST(a.doc_id AS VARCHAR) || '|'
                        || CAST(w.i AS VARCHAR)), 1, 4) AS BIGINT) % 2000)
                   * (CASE WHEN a.pert = 1 THEN 2 ELSE 1 END)
                   + (CASE WHEN a.pert = 2 AND w.i = 13 THEN 700
                           WHEN a.pert = 3 AND w.i = 29 THEN 700
                           ELSE 0 END) AS e
            FROM aassets a, range(0, {_AFP_WINDOWS}) w(i)),
        ahashes AS (
            SELECT l.id, l.side,
                   CAST(sum(CASE WHEN r.e > l.e
                                 THEN CAST(power(2, l.w) AS BIGINT)
                                 ELSE 0 END) AS BIGINT) AS phash
            FROM aen l JOIN aen r ON r.id = l.id AND r.side = l.side
                               AND r.w = l.w + 1
            GROUP BY l.id, l.side),
        abanded AS (
            SELECT id, side, phash, b.b AS band,
                   (phash // CAST(power(2, b.b * 14) AS BIGINT)) % 16384
                       AS bval
            FROM ahashes, range(0, {_PHASH_BANDS}) b(b))"""


def _media_hit_cte(tbl: str, state_pred: str, batch_side: str) -> str:
    """One modality's membership screen as a CTE body: batch-side
    banded keys probe the state side(s) selected by ``state_pred``,
    exact Hamming verify, distinct hit bases."""
    from .multimodal import _PHASH_THRESHOLD

    h = tbl[0]  # 'i' or 'a'
    return f"""
            SELECT DISTINCT c.b_id AS base FROM (
                SELECT DISTINCT s.id AS a_id, s.side AS a_side,
                       bt.id AS b_id
                FROM {h}banded bt JOIN {h}banded s
                  ON s.band = bt.band AND s.bval = bt.bval
                WHERE bt.side = '{batch_side}' AND ({state_pred})) c
            JOIN {h}hashes ha ON ha.id = c.a_id AND ha.side = c.a_side
            JOIN {h}hashes hb ON hb.id = c.b_id AND hb.side = '{batch_side}'
            WHERE bit_count(xor(ha.phash, hb.phash)) <= {_PHASH_THRESHOLD}"""


def ingest_tworound_oracle_sql(minhash_ctes: str) -> str:
    """DuckDB replica of ``ingest_tworound_multimodal``: the banding
    block over corpus ∪ both deliveries, ingest 1's five screens (the
    unified-screen oracle plus the SHARED semantic CTE builders), the
    fold as pure SQL — text hash/band state 2 = day-0 ∪ keeps, semantic
    band/vector/score state 2 = corpus ∪ the keeps' b1 rows, media
    state 2 = corpus families ∪ the keeps' b1 assets — and ingest 2's
    five screens against the folded states, with the precedence CASE
    and the per-ingest drift columns on both reports."""
    from .multimodal import _AFP_BASE, _PHASH_BASE
    from .similarity import (
        crawl_semantic_ctes_post,
        crawl_semantic_ctes_pre,
        crawl_semantic_drift_cte,
    )

    banding = minhash_ctes.format(docs=INGEST_TWOROUND_DOCS_SQL)
    sem_pre = crawl_semantic_ctes_pre(INGEST_EMB1_SQL)
    sem_post = crawl_semantic_ctes_post(INGEST_EMB2_SQL, "kept1")
    sdrift1 = crawl_semantic_drift_cte("sxfit1", "sxbat1")
    sdrift2 = crawl_semantic_drift_cte("sxfit2", "sxbat2")
    kept_b1 = "s.side = 'b1' AND s.id + 600000 IN (SELECT doc_id FROM kept1)"
    disposition = """CASE WHEN is_exact_dup THEN 'exact'
                        WHEN is_near_dup THEN 'near'
                        WHEN is_semantic_dup THEN 'semantic'
                        WHEN is_image_dup THEN 'image'
                        WHEN is_audio_dup THEN 'audio'
                        ELSE 'kept' END AS disposition"""
    return f"""
        WITH {banding},
        corpus_banded AS (
            SELECT DISTINCT b, bsig FROM banded WHERE doc_id < 600000),
        corpus_h AS (
            SELECT DISTINCT md5(text) AS h FROM docs WHERE doc_id < 600000),
        b1d AS (
            SELECT doc_id, md5(text) AS h FROM docs
            WHERE doc_id >= 600000 AND doc_id < 700000),
        b2d AS (
            SELECT doc_id, md5(text) AS h FROM docs WHERE doc_id >= 700000),
        near1 AS (
            SELECT DISTINCT n.doc_id
            FROM banded n JOIN corpus_banded c
              ON n.b = c.b AND n.bsig = c.bsig
            WHERE n.doc_id >= 600000 AND n.doc_id < 700000),
        iids AS (SELECT doc_id FROM documents WHERE doc_id < {_PHASH_BASE}),
        aids AS (SELECT doc_id FROM documents WHERE doc_id < {_AFP_BASE}),
        iassets AS (
            {_corpus_asset_arms("iids", "ph")}
            UNION ALL
            SELECT doc_id, doc_id,
                   CASE WHEN doc_id % 8 IN (0, 2) THEN 3 ELSE 0 END,
                   CASE WHEN doc_id % 8 IN (0, 2) THEN 'ph' ELSE 'igb' END,
                   'b1'
            FROM iids
            UNION ALL
            SELECT doc_id, doc_id,
                   CASE WHEN doc_id % 8 = 7 THEN 2 ELSE 0 END,
                   CASE WHEN doc_id % 8 = 7 THEN 'igb' ELSE 'igb2' END,
                   'b2'
            FROM iids),
        aassets AS (
            {_corpus_asset_arms("aids", "au")}
            UNION ALL
            SELECT doc_id, doc_id,
                   CASE WHEN doc_id % 8 IN (1, 3) THEN 3 ELSE 0 END,
                   CASE WHEN doc_id % 8 IN (1, 3) THEN 'au' ELSE 'agb' END,
                   'b1'
            FROM aids
            UNION ALL
            SELECT doc_id, doc_id,
                   CASE WHEN doc_id % 8 = 6 THEN 2 ELSE 0 END,
                   CASE WHEN doc_id % 8 = 6 THEN 'agb' ELSE 'agb2' END,
                   'b2'
            FROM aids),
        {_img_derive_ctes()},
        {_aud_derive_ctes()},
        ihit1 AS ({_media_hit_cte("i", "s.side = 'c'", "b1")}),
        ahit1 AS ({_media_hit_cte("a", "s.side = 'c'", "b1")}){sem_pre},
        sxdrift1 AS ({sdrift1}),
        r1 AS (
            SELECT b.doc_id,
                   (ch.h IS NOT NULL) AS is_exact_dup,
                   (nr.doc_id IS NOT NULL) AS is_near_dup,
                   (sm.vec_id IS NOT NULL) AS is_semantic_dup,
                   (ih.base IS NOT NULL) AS is_image_dup,
                   (ah.base IS NOT NULL) AS is_audio_dup
            FROM b1d b
            LEFT JOIN corpus_h ch ON b.h = ch.h
            LEFT JOIN near1 nr ON nr.doc_id = b.doc_id
            LEFT JOIN sxm1 sm ON sm.vec_id = b.doc_id
            LEFT JOIN ihit1 ih ON ih.base + 600000 = b.doc_id
            LEFT JOIN ahit1 ah ON ah.base + 600000 = b.doc_id),
        kept1 AS (
            SELECT doc_id FROM r1
            WHERE NOT (is_exact_dup OR is_near_dup OR is_semantic_dup
                       OR is_image_dup OR is_audio_dup)),
        h2 AS (
            SELECT h FROM corpus_h
            UNION
            SELECT md5(d.text) FROM docs d
            JOIN kept1 k ON d.doc_id = k.doc_id),
        banded2 AS (
            SELECT b, bsig FROM corpus_banded
            UNION
            SELECT n.b, n.bsig FROM banded n
            JOIN kept1 k ON n.doc_id = k.doc_id),
        near2 AS (
            SELECT DISTINCT n.doc_id
            FROM banded n JOIN banded2 c
              ON n.b = c.b AND n.bsig = c.bsig
            WHERE n.doc_id >= 700000),
        ihit2 AS ({_media_hit_cte("i", f"s.side = 'c' OR ({kept_b1})", "b2")}),
        ahit2 AS ({_media_hit_cte("a", f"s.side = 'c' OR ({kept_b1})", "b2")}){sem_post},
        sxdrift2 AS ({sdrift2}),
        r2 AS (
            SELECT b.doc_id,
                   (ch.h IS NOT NULL) AS is_exact_dup,
                   (nr.doc_id IS NOT NULL) AS is_near_dup,
                   (sm.vec_id IS NOT NULL) AS is_semantic_dup,
                   (ih.base IS NOT NULL) AS is_image_dup,
                   (ah.base IS NOT NULL) AS is_audio_dup
            FROM b2d b
            LEFT JOIN h2 ch ON b.h = ch.h
            LEFT JOIN near2 nr ON nr.doc_id = b.doc_id
            LEFT JOIN sxm2 sm ON sm.vec_id = b.doc_id
            LEFT JOIN ihit2 ih ON ih.base + 700000 = b.doc_id
            LEFT JOIN ahit2 ah ON ah.base + 700000 = b.doc_id)
        SELECT 1 AS ingest, doc_id, is_exact_dup, is_near_dup,
               is_semantic_dup, is_image_dup, is_audio_dup, {disposition},
               d.drift_ratio, d.refit_recommended
        FROM r1 CROSS JOIN sxdrift1 d
        UNION ALL
        SELECT 2, doc_id, is_exact_dup, is_near_dup,
               is_semantic_dup, is_image_dup, is_audio_dup, {disposition},
               d.drift_ratio, d.refit_recommended
        FROM r2 CROSS JOIN sxdrift2 d
    """

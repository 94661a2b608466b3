"""Corpus-curation + web-curation + remaining gate surface (split from ``__spark_entry__.py``)."""

from __future__ import annotations

from gates.g5_streaming import *  # noqa: F401,F403

# ---------------------------------------------------------------------------
# Corpus-curation surface (training-data pipeline ops)
# ---------------------------------------------------------------------------


def q_corpus_repetition(spark, sf_dir):
    """Gopher-style within-document repetition metrics (exact integer
    ppm) over the documents table."""
    return cx.repetition_metrics(_read(spark, sf_dir, "documents"))


def q_corpus_contamination(spark, sf_dir):
    """GPT-3-style benchmark decontamination: every 10th document plays
    the held-out benchmark; corpus docs sharing any word 8-gram with it
    are flagged with shared-gram / benchmark-doc counts."""
    docs = _read(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    corp = docs.filter(F.col("doc_id") % 10 != 0)
    return cx.contamination(corp, bench, n=8)


# ---------------------------------------------------------------------------
# Web-corpus curation surface (URL canonicalization + host balancing;
# functions/web.py — r6-born). The test tables carry no URL column, so
# each gate derives a deterministic messy URL from (source, doc_id) with
# identical arithmetic on both engines; the algebra under test is the
# canonicalization / host-cap / URL-dedup itself.
# ---------------------------------------------------------------------------


# _docs_with_urls moved to gates.g1_common (cross-section helper)


def q_web_url_canonical(spark, sf_dir):
    """CCNet/RefinedWeb-style URL canonicalization: lowercase scheme and
    host, www. stripped, scheme-default ports dropped, trailing slashes
    trimmed, fragments removed, tracking params (utm_*/fbclid/gclid/...)
    removed and survivors byte-sorted. Pure narrow regexp/array column
    expressions — zero shuffles, inlineable into a 100 TB scan."""
    return _docs_with_urls(spark, sf_dir).select(
        "doc_id", "url", "scheme", "host", "domain", "canon_url"
    )


def q_web_host_stats(spark, sf_dir):
    """Per-host corpus profile (docs, distinct canonical URLs, byte
    mass) — the input of every host-level curation decision. One
    map-side-combined shuffle on host."""
    return web.host_stats(_docs_with_urls(spark, sf_dir), size_col="n_chars")


def q_web_host_cap(spark, sf_dir):
    """RefinedWeb host balancing: keep at most 5 documents per host,
    chosen deterministically by md5(doc_id) so the sample is unbiased
    and engine-independent."""
    return web.host_cap_sample(_docs_with_urls(spark, sf_dir), cap=5).select(
        "doc_id", "host", "host_rank"
    )


def q_web_url_dedup(spark, sf_dir):
    """Canonical-URL dedup: one row per canon_url, longest document wins
    (ties → lowest doc_id). Tracking-param noise collapses onto one
    canonical key, so re-crawls of the same page dedup exactly."""
    return web.url_dedup(
        _docs_with_urls(spark, sf_dir), quality_col="n_chars"
    ).select("doc_id", "host", "canon_url", "n_chars")


def q_corpus_line_dedup(spark, sf_dir):
    """Corpus-level duplicated-line profile (RefinedWeb line-wise
    corrections): share of each document's lines that occur in >=2
    distinct documents. Pseudo-lines = 3-token chunks (test corpus has
    no newlines; real corpora pass split(text, '\\n'))."""
    return ld.line_dedup_stats(
        ld.chunk_lines(_read(spark, sf_dir, "documents"), width=3),
        min_docs=2,
    )


def q_corpus_line_dedup_clean(spark, sf_dir):
    """The masking step: rebuild every document without its
    corpus-duplicated lines (order-preserving array_sort reassembly; docs
    that were pure boilerplate survive as empty strings)."""
    return ld.line_dedup_clean(
        ld.chunk_lines(_read(spark, sf_dir, "documents"), width=3),
        min_docs=2,
    )


def q_corpus_top_ngrams(spark, sf_dir):
    """Corpus-wide frequent-3-gram mining (boilerplate signature
    discovery): exact global top-50 with deterministic tie-break; plans
    TakeOrderedAndProject, never a full sort."""
    return cx.top_ngrams(_read(spark, sf_dir, "documents"), n=3, k=50)


def q_corpus_hash_split(spark, sf_dir):
    """Deterministic 80/10/10 train/val/test assignment by md5 bucket."""
    return cx.hash_split(_read(spark, sf_dir, "documents"))


def q_corpus_pii_redact(spark, sf_dir):
    """PII scrubbing: deterministic synthetic email/phone/IP appended per
    document (the corpus itself is PII-free word soup), then redacted with
    per-pattern hit counts."""
    docs = _read(spark, sf_dir, "documents").withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" reach user"),
            F.col("doc_id"),
            F.lit("@example.org or 555-123-4567 at 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7"),
        ),
    )
    return cx.pii_redact(docs)


_PII_REDACT_SQL = cx.pii_redact_sql(
    table="(SELECT doc_id, text || ' reach user' || doc_id || "
    "'@example.org or 555-123-4567 at 10.0.' || (doc_id % 256) || '.7' "
    "AS text FROM documents)"
)


def q_t_rollup_cascade(spark, sf_dir):
    """Hypertable-style continuous aggregate: minute rollup from raw,
    hour re-reduced from minutes, day re-reduced from hours — raw data
    scanned once, every coarser level derived from partials. The oracle
    computes the DAY level directly from raw rows, so any mis-reduction
    anywhere in the cascade hash-fails. (The mergeable HLL distinct
    sketch rides the same cascade; its union-vs-direct equality is
    pinned in tests/test_rollup_cascade.py — estimates are
    library-specific, so it stays out of the SQL oracle.)"""
    from arcane_framework_scala_spark.operators.rollup_cascade import (
        rollup_cascade,
    )

    ev = _read(spark, sf_dir, "events")
    levels = rollup_cascade(ev, levels=(60, 3600, 86_400))
    return levels[86_400].drop("users_hll")


def _t_rollup_cascade_sql():
    from arcane_framework_scala_spark.operators.rollup_cascade import (
        rollup_exact_sql,
    )

    return rollup_exact_sql("events", 86_400)


def q_t_asof_join(spark, sf_dir):
    """Point-in-time (as-of) join — the lookup a feature store / CDC
    state reconstruction needs: every event gets the latest 'purchase
    state' its user had at or before that second. Union-and-window
    implementation (one shuffle on the key, no per-row subquery);
    DuckDB's native ASOF LEFT JOIN is the oracle."""
    from arcane_framework_scala_spark.operators.temporal_join import asof_join

    ev = _read(spark, sf_dir, "events")
    sec = tumbling_window("ts", 1)
    left = ev.select("event_id", "user_id", sec.alias("sec"))
    right = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            sec.alias("sec"),
            F.floor(F.col("value") * 1000).cast("long").alias("vm"),
        )
        .groupBy("user_id", "sec")
        .agg(F.max("vm").alias("state_vm"))
    )
    out = asof_join(left, right, "user_id", "sec", ["state_vm"])
    # no-prior-state rows are NULL; sentinel them so the oracle's pandas
    # fetch can't widen the BIGINT column to float64 (the hash would
    # diverge on 123 vs 123.0 despite identical values)
    return out.withColumn(
        "state_vm_asof", F.coalesce(F.col("state_vm_asof"), F.lit(-1))
    )


def _t_asof_join_sql():
    from arcane_framework_scala_spark.operators.temporal_join import (
        asof_join_sql,
    )

    sec = "epoch_ns(ts) // 1000000000"
    left = f"SELECT event_id, user_id, {sec} AS sec FROM events"
    right = f"""
SELECT user_id, sec, max(vm) AS state_vm
FROM (SELECT user_id, {sec} AS sec,
             CAST(floor(value * 1000) AS BIGINT) AS vm
      FROM events WHERE event_type = 'purchase')
GROUP BY user_id, sec
"""
    inner = asof_join_sql(
        left, right, "user_id", "sec",
        left_cols=["event_id", "user_id", "sec"],
        right_value_cols=["state_vm"],
    )
    return (
        f"SELECT event_id, user_id, sec, "
        f"CAST(coalesce(state_vm_asof, -1) AS BIGINT) AS state_vm_asof "
        f"FROM ({inner})"
    )


def q_t_range_join(spark, sf_dir):
    """Interval-containment (range) join via time-bin bucketing: every
    event joined to its user's containing session. Self-consistency is
    built into the output — joined_events must equal the session's
    n_events — and the oracle recomputes the same join with a plain
    BETWEEN predicate."""
    from arcane_framework_scala_spark.operators.temporal_join import range_join

    ev = _read(spark, sf_dir, "events")
    sess = sessionize(ev, gap_seconds=1800)
    pts = ev.select("user_id", "event_id", tumbling_window("ts", 1).alias("sec"))
    j = range_join(
        pts, sess, "sec", "session_start", "session_end",
        bucket_seconds=3600, extra_key="user_id",
    )
    return j.groupBy("user_id", "session_id", "n_events").agg(
        F.count(F.lit(1)).alias("joined_events")
    )


def _t_range_join_sql():
    sess = sessionize_sql("events", gap_seconds=1800)
    sec = "epoch_ns(ts) // 1000000000"
    return f"""
WITH sess AS ({sess}),
pts AS (SELECT user_id, event_id, {sec} AS sec FROM events)
SELECT p.user_id, s.session_id, s.n_events,
       CAST(count(*) AS BIGINT) AS joined_events
FROM pts p JOIN sess s
  ON p.user_id = s.user_id
 AND p.sec BETWEEN s.session_start AND s.session_end
GROUP BY p.user_id, s.session_id, s.n_events
"""


_SAMPLE_FRACTIONS = {"src0": 0.8, "src1": 0.5, "src2": 0.25}


def q_corpus_chunk(spark, sf_dir):
    """Overlapping token-window chunking (32-token windows, stride 24) —
    the tokenizer-feed shape; the short tail window is never dropped."""
    return cx.chunk_documents(
        _read(spark, sf_dir, "documents"), chunk_tokens=32, stride=24
    )


def q_corpus_pack(spark, sf_dir):
    """Chunk → pack vertical: the 32/24 token windows laid end-to-end
    per md5 shard and cut into 64-token training sequences; per-sequence
    chunk and token accounting. Oracle recomputes the identical packing
    from the chunk SQL."""
    chunks = cx.chunk_documents(
        _read(spark, sf_dir, "documents"), chunk_tokens=32, stride=24
    )
    return cx.pack_sequences_md5(chunks, seq_len=64, shards=16)


def q_corpus_jsonl_roundtrip(spark, sf_dir):
    """Training-data hand-off: the corpus exported as md5-hash-sharded
    gzip JSONL (shard=N dirs, the tokenizer-worker consumption format),
    read back, and per-shard accounting compared against the oracle's
    direct recomputation — any export/read corruption or shard-assignment
    drift hash-fails."""
    import tempfile
    import uuid

    path = os.path.join(
        tempfile.gettempdir(), f"arcane_jsonl_{uuid.uuid4().hex}"
    )
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    cx.export_jsonl_shards(docs, path, shards=8)
    back = cx.read_jsonl_shards(spark, path, schema="doc_id bigint, text string")
    return back.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).cast("long").alias("chars"),
        F.sum("doc_id").alias("id_sum"),
        F.max("doc_id").alias("max_id"),
    )


_CORPUS_JSONL_SQL = f"""
SELECT {cx._md5_shard_expr('doc_id', 8)} AS shard,
       COUNT(*) AS n_docs,
       CAST(SUM(length(text)) AS BIGINT) AS chars,
       CAST(SUM(doc_id) AS BIGINT) AS id_sum,
       MAX(doc_id) AS max_id
FROM documents GROUP BY 1
"""


def q_corpus_vocab_stats(spark, sf_dir):
    """Heaps-law corpus analytics per source: tokens, vocabulary size,
    hapax count, top-token share (exact ppm)."""
    return cx.vocab_stats(_read(spark, sf_dir, "documents"))


def q_corpus_stratified_sample(spark, sf_dir):
    """Deterministic per-source mixture control: md5-bucket sampling at
    different rates per source, 10% for unlisted sources. Engine- and
    run-stable (no RNG), unlike df.sample whose draw depends on
    partition layout."""
    return cx.stratified_sample(
        _read(spark, sf_dir, "documents"), _SAMPLE_FRACTIONS, default=0.1
    )


_MIXTURE_WEIGHTS = {"src0": 2.5, "src1": 1.0, "src2": 0.4}


def q_corpus_lm_score(spark, sf_dir):
    """CCNet-style self-fitted unigram LM quality score: mean token
    surprisal per document (lower = more corpus-typical). Engine parity
    to 6 decimals (ln is transcendental; exact parity is impossible and
    rounding absorbs ulp/sum-order noise)."""
    from arcane_framework_scala_spark.functions.lm import unigram_logprob

    return unigram_logprob(_read(spark, sf_dir, "documents"))


def q_s12_binary_ingest(spark, sf_dir):
    """Format breadth: Spark's ``binaryFile`` source — the ingest path
    for opaque media (images/audio/shards) into the multimodal pipeline.
    50 docs staged as real .bin files, read back via binaryFile, and
    reduced to (file_name, length, digest); the oracle derives the same
    triple straight from the table, so any byte corruption or listing
    drift in the round-trip hash-fails."""
    import tempfile
    import uuid

    _harden_session(spark)
    stage_dir = os.path.join(
        tempfile.gettempdir(), f"arcane_s12_stage_{uuid.uuid4().hex}"
    )
    os.makedirs(stage_dir)
    rows = (
        _read(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 50)
        .select("doc_id", "text")
        .collect()  # 50 rows — fixture staging, not a data path
    )
    for r in rows:
        with open(
            os.path.join(stage_dir, f"doc_{int(r['doc_id']):05d}.bin"), "wb"
        ) as f:
            f.write(r["text"].encode("utf-8"))
    bin_df = spark.read.format("binaryFile").load(stage_dir)
    return bin_df.select(
        F.substring_index(F.col("path"), "/", -1).alias("file_name"),
        F.col("length").cast("long").alias("length"),
        F.md5(F.col("content")).alias("digest"),
    )


def q_s13_text_lines(spark, sf_dir):
    """Format breadth: the ``text`` source (raw line-per-record corpus
    ingest). Docs flattened to one escaped line each, written
    distributed (no driver loop), read back line-wise, and reduced to
    per-line (length, digest) — the oracle derives both from the table
    through the same escaping, so the round-trip is hash-checked."""
    import tempfile
    import uuid

    _harden_session(spark)
    stage_dir = os.path.join(
        tempfile.gettempdir(), f"arcane_s13_stage_{uuid.uuid4().hex}"
    )
    # newline/CR escape keeps one doc == one line; tab-sep id prefix keys rows
    esc = F.regexp_replace(
        F.regexp_replace(F.col("text"), r"\\", r"\\\\"), r"[\r\n]", r"\\n"
    )
    (
        _read(spark, sf_dir, "documents")
        .select(
            F.concat_ws("\t", F.col("doc_id").cast("string"), esc).alias(
                "value"
            )
        )
        .write.mode("overwrite")
        .text(stage_dir)
    )
    lines = spark.read.text(stage_dir)
    return lines.select(
        F.split(F.col("value"), "\t", 2)[0].cast("long").alias("doc_id"),
        F.length(F.split(F.col("value"), "\t", 2)[1]).alias("line_len"),
        F.md5(F.split(F.col("value"), "\t", 2)[1]).alias("digest"),
    )


_S13_TEXT_SQL = r"""
SELECT doc_id,
       CAST(length(esc) AS INT) AS line_len,
       md5(esc) AS digest
FROM (
  SELECT doc_id,
         regexp_replace(regexp_replace(text, '\\', '\\\\', 'g'),
                        '[\r\n]', '\\n', 'g') AS esc
  FROM documents
)
"""


_S12_BINARY_SQL = """
SELECT concat('doc_', lpad(CAST(doc_id AS VARCHAR), 5, '0'), '.bin')
           AS file_name,
       CAST(octet_length(encode(text)) AS BIGINT) AS length,
       md5(text) AS digest
FROM documents WHERE doc_id < 50
"""


def q_p11_zorder_key(spark, sf_dir):
    """Z-order layout key over (l_orderkey, l_partkey): the bit-interleave
    behind Delta/Iceberg ZORDER rewrites, as pure codegen int math with a
    broadcast bounds row. Sorting files by zkey makes min/max pruning
    effective on BOTH columns; the gate pins the key bit-exactly."""
    from arcane_framework_scala_spark.functions.layout import zorder_key

    li = _read(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey"
    )
    return zorder_key(li, ["l_orderkey", "l_partkey"], bits=8)


def q_corpus_bigram_score(spark, sf_dir):
    """Bigram-LM surprisal (CCNet step 2): mean -ln P(w|prev) with
    Laplace smoothing — separates repetitive boilerplate AND gibberish
    from typical text. 6-decimal parity (transcendental ln)."""
    from arcane_framework_scala_spark.functions.lm import bigram_logprob

    return bigram_logprob(_read(spark, sf_dir, "documents"))


def q_corpus_top_terms(spark, sf_dir):
    """Exact top-10 tokens per source (vocabulary reporting / stopword
    discovery): explode → (source, token) count → per-source rank with
    a full deterministic tie-break. Scale: the count is map-side
    combined; the window ranks only the counted (source, token) table
    (vocabulary-sized), never raw tokens."""
    docs = _read(spark, sf_dir, "documents")
    counts = (
        docs.select(
            "source",
            F.explode(
                F.split(F.trim(F.lower(F.col("text"))), r"\s+")
            ).alias("token"),
        )
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("source").orderBy(
        F.desc("n"), F.asc("token")
    )
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .select("source", "token", "n", "rk")
    )


_CORPUS_TOP_TERMS_SQL = r"""
WITH counts AS (
  SELECT source, token, count(*) AS n
  FROM (SELECT source,
               unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
        FROM documents)
  GROUP BY source, token
)
SELECT source, token, n, CAST(rk AS INT) AS rk
FROM (SELECT *, row_number() OVER (PARTITION BY source
                                   ORDER BY n DESC, token ASC) AS rk
      FROM counts)
WHERE rk <= 10
"""


def q_t_lag_features(spark, sf_dir):
    """Per-user temporal features via lag windows: inter-event gap
    (seconds), value delta, and running event index — the feature-
    engineering shape behind churn/session models. One shuffle on
    user_id; int64 nanosecond arithmetic end-to-end so the oracle is
    exact."""
    ev = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.row_number().over(w).alias("event_idx"),
        # first-event rows coalesce to sentinels: the driver's pandas
        # canonicalizer turns float NULLs into NaN on the oracle side only
        F.coalesce(
            ((F.col("ts") - F.lag("ts").over(w)) / F.lit(1_000_000_000))
            .cast("long"),
            F.lit(-1).cast("long"),
        ).alias("gap_sec"),
        F.coalesce(
            F.round(F.col("value") - F.lag("value").over(w), 6), F.lit(0.0)
        ).alias("value_delta"),
    )


_T_LAG_SQL = """
SELECT event_id, user_id,
       CAST(row_number() OVER w AS INT) AS event_idx,
       CAST(coalesce((epoch_ns(ts) - lag(epoch_ns(ts)) OVER w) // 1000000000,
                     -1) AS BIGINT) AS gap_sec,
       coalesce(round(value - lag(value) OVER w, 6), 0.0) AS value_delta
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id)
"""


def q_t_debounce(spark, sf_dir):
    """Event debounce: within each (user, event_type) stream, keep an
    event only if ≥60 s passed since the previous kept... strictly: since
    the previous EVENT (lag-based debounce — the stateless variant used
    for click/telemetry dedup). One shuffle on the composite key; the
    filter is a lag comparison, no state beyond the window sort."""
    ev = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gap = (F.col("ts") - F.lag("ts").over(w)) / F.lit(1_000_000_000)
    return (
        ev.withColumn("__gap", gap)
        .filter(F.col("__gap").isNull() | (F.col("__gap") >= 60))
        .select("event_id", "user_id", "event_type")
    )


_T_DEBOUNCE_SQL = """
SELECT event_id, user_id, event_type
FROM (
  SELECT event_id, user_id, event_type,
         (epoch_ns(ts) - lag(epoch_ns(ts)) OVER w) / 1000000000.0 AS gap
  FROM events
  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY epoch_ns(ts), event_id)
)
WHERE gap IS NULL OR gap >= 60
"""


def q_t_funnel(spark, sf_dir):
    """Funnel analysis — users progressing view → click → purchase in
    order, each step within 7 days of the previous: per-user min
    timestamp of step 1, then min step-2 ts AFTER it, then min step-3 ts
    after that. Three conditional aggregations over one shuffle on
    user_id (the relational unrolling of the sequential-pattern match);
    emits per-user step timestamps (epoch sec) and the depth reached."""
    # integer div: epoch-ns (~1.7e18) exceeds double's 2^53 mantissa, so
    # float division here would be off by whole seconds
    ev = _read(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.expr("ts div 1000000000").cast("long").alias("sec"),
    )
    horizon = 7 * 86_400
    s1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("sec").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter((F.col("sec") > F.col("t1")) & (F.col("sec") <= F.col("t1") + horizon))
        .groupBy("user_id")
        .agg(F.min("sec").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter((F.col("sec") > F.col("t2")) & (F.col("sec") <= F.col("t2") + horizon))
        .groupBy("user_id")
        .agg(F.min("sec").alias("t3"))
    )
    return (
        s1.join(s2, "user_id", "left")
        .join(s3, "user_id", "left")
        .select(
            "user_id",
            "t1",
            F.coalesce("t2", F.lit(-1)).alias("t2"),
            F.coalesce("t3", F.lit(-1)).alias("t3"),
            (
                F.lit(1)
                + F.when(F.col("t2").isNotNull(), 1).otherwise(0)
                + F.when(F.col("t3").isNotNull(), 1).otherwise(0)
            ).cast("int").alias("depth"),
        )
    )


_T_FUNNEL_SQL = """
WITH ev AS (
  SELECT user_id, event_type,
         CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS sec
  FROM events
),
s1 AS (SELECT user_id, min(sec) AS t1 FROM ev
       WHERE event_type = 'view' GROUP BY user_id),
s2 AS (SELECT e.user_id, min(sec) AS t2 FROM ev e JOIN s1 USING (user_id)
       WHERE event_type = 'click' AND sec > t1 AND sec <= t1 + 604800
       GROUP BY e.user_id),
s3 AS (SELECT e.user_id, min(sec) AS t3 FROM ev e JOIN s2 USING (user_id)
       WHERE event_type = 'purchase' AND sec > t2 AND sec <= t2 + 604800
       GROUP BY e.user_id)
SELECT s1.user_id, t1,
       coalesce(t2, -1) AS t2, coalesce(t3, -1) AS t3,
       CAST(1 + CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END
              + CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END AS INT) AS depth
FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
"""


def q_corpus_lang_mix(spark, sf_dir):
    """Language composition per source (the dataset-card language table):
    lang_id composed with one combined groupBy — narrow projection, one
    shuffle on the (source, lang) pair."""
    docs = _read(spark, sf_dir, "documents")
    return (
        docs.select("source", tx.lang_id(F.col("text")).alias("lang"))
        .groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("docs"))
    )


def _corpus_lang_mix_sql() -> str:
    return f"""
SELECT source, {tx.lang_id_sql('text')} AS lang, count(*) AS docs
FROM documents GROUP BY 1, 2
"""


def q_corpus_length_histogram(spark, sf_dir):
    """Power-of-two token-length histogram per source — the dataset-card
    length distribution (sequence-length planning for packing). Bucket =
    floor(log2(tokens)); pure int/log arithmetic, one combined groupBy."""
    docs = _read(spark, sf_dir, "documents")
    toks = tx.token_count(F.col("text"))
    bucket = F.floor(F.log2(F.greatest(toks, F.lit(1)))).cast("int")
    return (
        docs.select("source", bucket.alias("log2_tokens"))
        .groupBy("source", "log2_tokens")
        .agg(F.count(F.lit(1)).alias("docs"))
    )


def q_dedup_cluster_stats(spark, sf_dir):
    """Near-dup reporting: cluster-size histogram + removable-row count
    per size — the number a curation run actually reports ("N% of the
    corpus is near-duplicate"). Composes the clusters operator with two
    tiny keyed aggregations over the (doc, cluster) table."""
    pairs = dd.minhash_candidate_pairs(_read(spark, sf_dir, "documents"))
    clusters = dd.dedup_clusters(pairs)
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("size")
    )
    return (
        sizes.groupBy("size")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            (F.count(F.lit(1)) * (F.col("size") - 1))
            .cast("long")
            .alias("removable_docs"),
        )
        .select("size", "n_clusters", "removable_docs")
    )


def _corpus_length_histogram_sql() -> str:
    toks = tx.token_count_sql("text")
    return f"""
SELECT source,
       CAST(floor(log2(greatest({toks}, 1))) AS INT) AS log2_tokens,
       count(*) AS docs
FROM documents GROUP BY 1, 2
"""


def _dedup_cluster_stats_sql() -> str:
    clusters = dd.dedup_clusters_sql(dd.minhash_candidate_pairs_sql("documents"))
    return f"""
WITH clusters AS MATERIALIZED ({clusters}),
sizes AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS size
          FROM clusters GROUP BY cluster_id)
SELECT size, CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(count(*) * (size - 1) AS BIGINT) AS removable_docs
FROM sizes GROUP BY size
"""


def q_w3_scd2_history(spark, sf_dir):
    """SCD Type-2 materialization of the CT change feed: every change
    becomes a validity interval (valid_from/valid_to by version order
    per merge key, NULL-open current row) — W1's history-preserving
    sibling, same single shuffle, ``lead`` instead of ``rank``."""
    from arcane_framework_scala_spark.operators.dedup_window import (
        scd2_history,
    )

    ch = _mssql_changes(spark, sf_dir)
    out = scd2_history(ch, "SYS_CHANGE_VERSION")
    return out.select(
        "ARCANE_MERGE_KEY", "SYS_CHANGE_VERSION", "user_id",
        "valid_from",
        F.coalesce("valid_to", F.lit(-1)).alias("valid_to"),
        "is_current",
    )


def _w3_scd2_sql() -> str:
    return f"""
SELECT "ARCANE_MERGE_KEY", "SYS_CHANGE_VERSION", user_id,
       "SYS_CHANGE_VERSION" AS valid_from,
       coalesce(lead("SYS_CHANGE_VERSION") OVER w, -1) AS valid_to,
       (lead("SYS_CHANGE_VERSION") OVER w IS NULL) AS is_current
FROM ({_mssql_changes_sql()})
WINDOW w AS (PARTITION BY "ARCANE_MERGE_KEY" ORDER BY "SYS_CHANGE_VERSION")
"""


def q_t_anomaly(spark, sf_dir):
    """Per-type z-score outliers: events whose value deviates >3 sample
    standard deviations from their type's mean — the stream-monitoring
    primitive behind alerting. One 1-row-per-type aggregate broadcast
    back onto the stream; z rounded to 6 decimals for engine parity
    (stddev_samp uses the same definition on both engines)."""
    ev = _read(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"),
        F.stddev_samp("value").alias("sigma"),
    )
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    return (
        ev.join(F.broadcast(stats), "event_type")
        .withColumn("z", F.round(z, 6))
        .filter(F.abs(F.col("z")) > 3)
        .select("event_id", "event_type", F.round("value", 6).alias("value"), "z")
    )


_T_ANOMALY_SQL = """
WITH stats AS (
  SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sigma
  FROM events GROUP BY event_type
)
SELECT event_id, e.event_type, round(value, 6) AS value,
       round((value - mu) / sigma, 6) AS z
FROM events e JOIN stats USING (event_type)
WHERE abs(round((value - mu) / sigma, 6)) > 3
"""


def q_t_retention(spark, sf_dir):
    """Cohort retention matrix: users grouped by first-seen day, counted
    as retained in each later day-offset — the standard product-analytics
    triangle. Two keyed aggregations (first-seen per user, then
    (cohort, offset) distinct-user counts); at 100 TB the distinct count
    swaps to approx_count_distinct (documented trade)."""
    ev = _read(spark, sf_dir, "events").select(
        "user_id", F.expr("ts div 1000000000 div 86400").cast("long").alias("day")
    )
    first = ev.groupBy("user_id").agg(F.min("day").alias("cohort"))
    return (
        ev.join(first, "user_id")
        .select("user_id", "cohort", (F.col("day") - F.col("cohort")).alias("offset"))
        .groupBy("cohort", "offset")
        .agg(F.countDistinct("user_id").cast("long").alias("users"))
    )


_T_RETENTION_SQL = """
WITH ev AS (
  SELECT user_id,
         CAST(epoch_ns(ts) // 1000000000 // 86400 AS BIGINT) AS day
  FROM events
),
first AS (SELECT user_id, min(day) AS cohort FROM ev GROUP BY user_id)
SELECT cohort, day - cohort AS "offset",
       CAST(count(DISTINCT e.user_id) AS BIGINT) AS users
FROM ev e JOIN first USING (user_id)
GROUP BY cohort, day - cohort
"""


def q_t_event_pivot(spark, sf_dir):
    """Wide feature table: per-user event-type counts pivoted to columns
    (Spark's pivot == conditional-sum aggregation; the oracle restates it
    as CASE sums). One shuffle; the pivot column set is the closed
    event-type domain, so the schema is static."""
    ev = _read(spark, sf_dir, "events")
    types = ["view", "click", "purchase", "error", "signup"]
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}") for t in types],
    )


_T_EVENT_PIVOT_SQL = """
SELECT user_id,
       CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
       CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup
FROM events GROUP BY user_id
"""


def q_corpus_lm_buckets(spark, sf_dir):
    """CCNet head/middle/tail: exact tercile thresholds broadcast from a
    1-row aggregate (never a global ntile window), bucket by
    comparison. Oracle recomputes identical interpolated terciles."""
    from arcane_framework_scala_spark.functions.lm import lm_buckets

    return lm_buckets(_read(spark, sf_dir, "documents"))


def q_corpus_hashed_features(spark, sf_dir):
    """Hashing-trick featurizer: vocabulary-free (doc, bucket, count)
    sparse text features for corpus-scale linear models; portable
    md5-bucket hash, one explode + one combined groupBy."""
    from arcane_framework_scala_spark.functions.lm import hashed_features

    return hashed_features(_read(spark, sf_dir, "documents"), dim=256)


def q_sim_knn_eval(spark, sf_dir):
    """Embedding-quality probe: majority-vote kNN label prediction for
    the standard query set, deterministic tie-break, exact-match oracle
    over the same top-k."""
    emb = _read(spark, sf_dir, "embeddings")
    topk = sim.brute_force_topk(emb, _COSINE_QUERY_IDS, k=10)
    return sim.knn_label_accuracy(topk, emb)


def q_corpus_mixture_sample(spark, sf_dir):
    """Epoch-weighted mixture resampling — the upsampling generalization
    of stratified_sample a pre-training recipe needs (repeat the good
    source 2.5 epochs, keep src1 once, keep 40% of src2, drop the rest).
    Output carries the 0-based copy index; selection is md5-bucketed so
    the sample is engine- and partitioning-stable."""
    out = cx.mixture_sample(
        _read(spark, sf_dir, "documents"), _MIXTURE_WEIGHTS, default=0.0
    )
    return out.select("doc_id", "source", "epoch", F.md5("text").alias("digest"))


def q_corpus_quality_filter(spark, sf_dir):
    """Gopher-rule composite filter with an audit trail: per-rule pass
    flags, overall verdict, and a stable reject-reason string — curation
    pipelines tune thresholds off this shape instead of silently
    dropping rows."""
    return cx.quality_filter(_read(spark, sf_dir, "documents"))


def q_corpus_shuffle_shards(spark, sf_dir):
    """Seeded global shuffle → (shard, pos): the deterministic
    permutation + sharding step before tokenizer hand-off. Oracle
    recomputes the identical md5 ordering, proving bit-for-bit
    reproducibility across engines."""
    out = cx.shuffle_shards(
        _read(spark, sf_dir, "documents"), num_shards=8, seed=7
    )
    return out.select("doc_id", "shard", "pos")


def q_corpus_pipeline_e2e(spark, sf_dir):
    """The full tokenizer-prep vertical in ONE hash-checked plan:
    near-dup canonicalization (MinHash-LSH pairs → connected components
    → min-id survivor), Gopher-band quality filtering, epoch-weighted
    mixture resampling, and the seeded global shuffle into (shard, pos)
    — documents in, training-shard coordinates out. Each stage is
    individually gated elsewhere; this proves the COMPOSITION is still
    engine-exact (the oracle recomputes all four stages, including the
    exact transitive closure)."""
    docs = _read(spark, sf_dir, "documents")
    canon = dd.dedup_canonical(docs, dd.minhash_candidate_pairs(docs))
    verdicts = cx.quality_filter(canon)
    kept = canon.join(
        verdicts.filter(F.col("passed")).select("doc_id"), "doc_id", "left_semi"
    )
    mixed = cx.mixture_sample(kept, _MIXTURE_WEIGHTS, default=1.0)
    # copies of a doc share doc_id; the shuffle key must distinguish them
    uid = (F.col("doc_id") * 10 + F.col("epoch")).alias("uid")
    sharded = cx.shuffle_shards(
        mixed.select("doc_id", "epoch", uid), num_shards=8, seed=3,
        id_col="uid",
    )
    return sharded.select("doc_id", "epoch", "shard", "pos")


def _corpus_pipeline_e2e_sql() -> str:
    canon = dd.dedup_canonical_sql(
        "documents", dd.minhash_candidate_pairs_sql("documents")
    )
    qf = cx.quality_filter_sql(table="canon")
    mixed = cx.mixture_sample_sql(_MIXTURE_WEIGHTS, table="kept", default=1.0)
    sharded = cx.shuffle_shards_sql(
        num_shards=8, seed=3, table="withuid", id_col="uid"
    )
    return f"""
WITH canon AS MATERIALIZED ({canon}),
kept AS (
  SELECT c.* FROM canon c
  WHERE c.doc_id IN (SELECT doc_id FROM ({qf}) WHERE passed)
),
mixed AS ({mixed}),
withuid AS (SELECT doc_id, epoch, doc_id * 10 + epoch AS uid FROM mixed)
SELECT doc_id, epoch, shard, pos FROM ({sharded})
"""


def q_s11_orc_roundtrip(spark, sf_dir):
    """Format breadth: the events slice written as ORC (Spark-native
    columnar alternative), read back, and aggregated — the ORC scan must
    produce byte-identical analytics to the parquet original (the oracle
    reads the parquet table, so any round-trip corruption hash-fails)."""
    import tempfile
    import uuid

    _harden_session(spark)
    path = os.path.join(
        tempfile.gettempdir(), f"arcane_orc_{uuid.uuid4().hex}"
    )
    _read(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    ).write.orc(path)
    ev = spark.read.orc(path)
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("user_id").alias("users"),
        F.sum(F.floor(F.col("value") * 1000).cast("long")).alias(
            "value_milli_sum"
        ),
        F.max("event_id").alias("max_event_id"),
    )


_S11_ORC_SQL = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       CAST(count(DISTINCT user_id) AS BIGINT) AS users,
       CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS value_milli_sum,
       max(event_id) AS max_event_id
FROM events GROUP BY event_type
"""


def q_p10_bucketed_join(spark, sf_dir):
    """Shuffle-free co-located join via bucketing — the pre-partitioning
    strategy a 100 TB deployment uses for repeated fact-fact joins. Both
    sides are written ``bucketBy(8, orderkey)`` + in-bucket sort; the
    join must then plan as a sort-merge over bucketed scans with ZERO
    exchanges before the final aggregation (asserted on the physical
    plan — the gate fails if bucketing regresses to a shuffle), with
    broadcast disabled so the demonstration can't degenerate. Value
    oracle: the plain join+groupBy SQL."""
    import tempfile
    import uuid

    from arcane_framework_scala_spark.plans import audit_plan

    _harden_session(spark)
    run = uuid.uuid4().hex[:12]
    base = tempfile.mkdtemp(prefix="arcane_p10_")
    li_t, od_t = f"li_b_{run}", f"od_b_{run}"
    _read(spark, sf_dir, "lineitem").write.bucketBy(8, "l_orderkey").sortBy(
        "l_orderkey"
    ).option("path", os.path.join(base, "li")).saveAsTable(li_t)
    _read(spark, sf_dir, "orders").write.bucketBy(8, "o_orderkey").sortBy(
        "o_orderkey"
    ).option("path", os.path.join(base, "od")).saveAsTable(od_t)

    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table(li_t).join(
            spark.table(od_t),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        out = j.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.floor(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 1000
                ).cast("long")
            ).alias("rev_milli"),
        )
        a = audit_plan(out)
        if a.exchanges != 1 or a.sort_merge_joins != 1:
            raise AssertionError(
                f"bucketed join regressed: {a.exchanges} exchanges, "
                f"{a.sort_merge_joins} SMJ — expected 1/1\n{a.plan[:2000]}"
            )
        # materialize before restoring the broadcast threshold: the gate
        # collects lazily after this function returns
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        for t in (li_t, od_t):  # external tables: files at `base` remain
            spark.sql(f"DROP TABLE IF EXISTS {t}")


_P10_BUCKETED_SQL = """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 1000)
                     AS BIGINT)) AS BIGINT) AS rev_milli
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""


def q_skew_salted_agg(spark, sf_dir):
    """Explicit skew mitigation end-to-end: events join a tiny per-type
    dim through ``salted_join`` (hot event_type keys scattered over 8
    sub-keys), then ``two_phase_agg`` rolls up per user via (key, salt)
    partials. Results must equal the plain join+groupBy oracle — salting
    changes the shuffle layout, never the answer."""
    from arcane_framework_scala_spark.operators.salting import (
        salted_join,
        two_phase_agg,
    )

    ev = _read(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.floor(F.col("value") * 1000).cast("long").alias("vm"),
    )
    dim = (
        ev.select("event_type")
        .distinct()
        .withColumn("type_mult", F.length("event_type").cast("long"))
    )
    joined = salted_join(ev, dim, "event_type", salt=8).withColumn(
        "adj", F.col("vm") * F.col("type_mult")
    )
    return two_phase_agg(
        joined,
        key="user_id",
        aggs={
            "n": ("count", F.lit(1)),
            "adj_sum": ("sum", "adj"),
            "max_adj": ("max", "adj"),
        },
        salt=8,
    )


_SKEW_SALTED_SQL = """
SELECT user_id, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(adj) AS BIGINT) AS adj_sum, max(adj) AS max_adj
FROM (
  SELECT e.user_id,
         CAST(floor(e.value * 1000) AS BIGINT) * length(e.event_type) AS adj
  FROM events e
  JOIN (SELECT DISTINCT event_type FROM events) d
    ON e.event_type = d.event_type
)
GROUP BY user_id
"""


def q_corpus_curation_pipeline(spark, sf_dir):
    """The composed curation decision a pre-training pipeline runs per
    document: narrow text metrics (token count, language-ID) from the
    scan projection, repetition metrics from the aggregation path, joined
    on doc_id into a single keep/drop verdict (Gopher-style thresholds).
    One scan feeds both branches; the join is co-keyed on doc_id."""
    docs = _read(spark, sf_dir, "documents")
    narrow = docs.select(
        "doc_id",
        tx.lang_id(F.col("text")).alias("lang"),
        tx.token_count(F.col("text")).alias("ws_tokens"),
    )
    rep = cx.repetition_metrics(docs).select(
        "doc_id", "words", "dup_word_ppm", "top_2gram_ppm"
    )
    keep = (
        (F.col("lang") != "und")
        & (F.col("words") >= 10)
        & (F.col("dup_word_ppm") < 900_000)
        & (F.col("top_2gram_ppm") < 200_000)
    )
    return narrow.join(rep, "doc_id").select(
        "doc_id", "lang", "ws_tokens", "words", "dup_word_ppm",
        "top_2gram_ppm", keep.alias("keep"),
    )


_CURATION_SQL = f"""
WITH narrow AS (
  SELECT doc_id, {tx.lang_id_sql('text')} AS lang,
         {tx.token_count_sql('text')} AS ws_tokens
  FROM documents
),
rep AS (
  SELECT doc_id, words, dup_word_ppm, top_2gram_ppm
  FROM ({cx.repetition_metrics_sql()})
)
SELECT narrow.doc_id, lang, ws_tokens, words, dup_word_ppm, top_2gram_ppm,
       (lang != 'und' AND words >= 10 AND dup_word_ppm < 900000
        AND top_2gram_ppm < 200000) AS keep
FROM narrow JOIN rep ON narrow.doc_id = rep.doc_id
"""


def q_t7_stream_window_agg(spark, sf_dir):
    """T7 via actual Structured Streaming: events staged as 4 parquet
    files, streamed with maxFilesPerTrigger=1 (4 real micro-batches,
    Trigger.AvailableNow), tumbling-window aggregation in complete mode
    to a memory sink. The batch oracle hash-matching this result is the
    streaming==batch equivalence Structured Streaming promises for
    deterministic aggregations (reference micro-batch assembly:
    ``services/streaming/data_providers/DefaultStreamDataProvider.scala``).
    Memory sink is test-only; production path writes through MergeSink."""
    import tempfile
    import uuid

    _harden_session(spark)
    ev = _read(spark, sf_dir, "events")
    stage_dir = os.path.join(
        tempfile.gettempdir(), f"arcane_t7_stage_{uuid.uuid4().hex}"
    )
    ev.repartition(4).write.parquet(stage_dir)

    stream = (
        spark.readStream.schema(
            spark.read.parquet(stage_dir).schema
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(stage_dir)
    )
    agg = stream.groupBy(
        tumbling_window("ts", 86_400).alias("window_start"),
        F.col("event_type"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("value") * 1000).cast("long")).alias(
            "value_milli_sum"
        ),
    )
    sink = f"t7_sink_{uuid.uuid4().hex}"
    # 150 output groups: default shuffle partitioning is pure state-store
    # overhead per micro-batch at gate scale (see t_stateful_first_seen)
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            agg.writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    if q.lastProgress is None or q.lastProgress["batchId"] < 1:
        raise AssertionError("expected multiple streaming micro-batches")
    return spark.table(sink)


_T7_STREAM_SQL = f"""
SELECT {tumbling_window_sql('ts', 86_400)} AS window_start,
       event_type,
       count(*) AS n,
       CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS value_milli_sum
FROM events
GROUP BY ALL
"""


def q_t7_stream_merge_vertical(spark, sf_dir):
    """The production T7 path on actual Structured Streaming: CT change
    rows staged as three version-ordered files (mtimes ascending),
    ``readStream`` → ``foreachBatch`` → MergeSink.apply → watermark
    commit per batch. Version-guarded incremental merges applied in
    version order must converge to the single full-range M1 merge —
    the same oracle SQL — and the watermark must land at head with one
    commit per micro-batch (merge-before-watermark T2 ordering on the
    streaming path; reference
    ``services/streaming/graph_builders/GenericGraphBuilderFactory.scala``
    stream→merge→commit assembly)."""
    import tempfile
    import uuid

    from arcane_framework_scala_spark.sinks.merge_sink import (
        MergeSink,
        SnapshotParquetTarget,
    )
    from arcane_framework_scala_spark.streaming.watermark import (
        FileWatermarkStore,
        Watermark,
    )

    _harden_session(spark)
    thr = _events_threshold(spark, sf_dir)
    head = _read(spark, sf_dir, "events").agg(F.max("event_id")).first()[0]
    step = (head - thr) // 3
    cuts = [thr, thr + step, thr + 2 * step, head]
    run_dir = tempfile.mkdtemp(prefix="arcane_t7m_run_")

    stage_dir = os.path.join(run_dir, "stage")
    os.makedirs(stage_dir)
    mtime = 1_000_000_000
    schema = None
    for i in range(3):
        part = _mssql_changes(spark, sf_dir, lower=cuts[i], upper=cuts[i + 1])
        schema = part.schema
        sub = os.path.join(stage_dir, f"q{i}")
        part.coalesce(1).write.parquet(sub)
        for f in os.listdir(sub):
            if f.endswith(".parquet"):
                dst = os.path.join(stage_dir, f"{i:02d}.parquet")
                os.rename(os.path.join(sub, f), dst)
                os.utime(dst, (mtime + i * 1000, mtime + i * 1000))

    def run_vertical(target, ckpt_name, wm_name) -> DataFrame:
        target.overwrite(_mssql_target(spark, sf_dir, thr))
        sink = MergeSink(target=target, dialect=SQL_SERVER_CHANGE_TRACKING)
        store = FileWatermarkStore(path=os.path.join(run_dir, wm_name))
        store.commit(Watermark.now(version=str(thr)))
        commits = []

        def apply_batch(batch_df, batch_id):
            sink.apply(batch_df)
            v = batch_df.agg(F.max("SYS_CHANGE_VERSION")).first()[0]
            store.commit(Watermark.now(version=str(v)))
            commits.append(v)

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{stage_dir}/*.parquet")
        )
        q = (
            stream.writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", os.path.join(run_dir, ckpt_name))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        if len(commits) != 3 or commits != sorted(commits):
            raise AssertionError(
                f"expected 3 version-ordered commits: {commits}"
            )
        if store.read().version != str(commits[-1]):
            raise AssertionError(f"watermark not at head: {store.read()}")
        return target.read().select(
            "ARCANE_MERGE_KEY", "SYS_CHANGE_VERSION", "user_id",
            "event_type", "value",
        )

    final = run_vertical(
        SnapshotParquetTarget(spark, os.path.join(run_dir, "tgt")),
        "ckpt", "wm.json",
    )
    # twin on the DSv2 catalog (r6, post clone-session fix): the CT
    # dialect's version-guarded MERGE INTO executes for real inside each
    # micro-batch; convergence must be identical to the snapshot run
    cat_table = _fresh_mem_table(spark, "arcm.gate.t7_stream")
    from arcane_framework_scala_spark.sinks.merge_sink import CatalogTarget

    cat_final = run_vertical(
        CatalogTarget(spark, cat_table), "ckpt_cat", "wm_cat.json"
    )
    d1 = cat_final.exceptAll(final).count()
    d2 = final.exceptAll(cat_final).count()
    if d1 or d2:
        raise AssertionError(
            f"catalog vs snapshot stream merge diverged: {d1}/{d2} rows"
        )
    return final


def q_t1_stream_trigger_vertical(spark, sf_dir):
    """T1 through a REAL Structured Streaming trigger (VERDICT r5 item
    5): the reference's poll loop (DefaultStreamDataProvider.scala:
    91-113) mapped to ``Trigger.ProcessingTime`` driving the full
    stage→merge→watermark chain of ``streaming/structured.py``. The
    run observes ≥3 trigger firings: ≥1 IDLE trigger on the quiet
    source performing the watermark-only advance (the reference's
    "no updates detected" seed case — SAME version, fresh timestamp,
    no merge; Spark's file source never runs an empty micro-batch, so
    the idle signal is the QueryIdleEvent), then two file waves that
    each merge and commit the watermark inside their own trigger.
    In-gate asserts pin the ordering (idle advance strictly before any
    data, per-trigger watermark commits landing at each wave's version)
    and the returned target must hash-match the per-key
    latest-version-wins oracle.

    Twin run (the t1/t2 convention): the identical trigger-driven
    stream repeats with the sink on CatalogTarget over the DSv2 mem
    catalog — every wave executes a real generated MERGE INTO inside
    its trigger — and both finals must be row-identical."""
    import tempfile
    import time as _time

    from arcane_framework_scala_spark.queries.merge import UPSERT_BLOB
    from arcane_framework_scala_spark.sinks.merge_sink import (
        CatalogTarget,
        MergeSink,
        SnapshotParquetTarget,
    )
    from arcane_framework_scala_spark.streaming.structured import (
        StructuredBlobStream,
    )
    from arcane_framework_scala_spark.streaming.watermark import (
        FileWatermarkStore,
        Watermark,
    )

    _harden_session(spark)
    idle_conf = "spark.sql.streaming.noDataProgressEventInterval"
    prev_idle = spark.conf.get(idle_conf, None)
    spark.conf.set(idle_conf, "1s")
    V1, V2 = 1_700_000_000, 1_700_001_000

    orders = _read(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )

    def run_vertical(target) -> DataFrame:
        run_dir = tempfile.mkdtemp(prefix="arcane_t1s_run_")
        src = os.path.join(run_dir, "incoming")
        os.makedirs(src)

        def stage(df, name, mtime):
            sub = os.path.join(run_dir, "stage_" + name)
            df.coalesce(1).write.parquet(sub)
            for f in os.listdir(sub):
                if f.endswith(".parquet"):
                    dst = os.path.join(src, name + ".parquet")
                    os.rename(os.path.join(sub, f), dst)
                    os.utime(dst, (mtime, mtime))

        store = FileWatermarkStore(path=os.path.join(run_dir, "wm.json"))
        store.commit(
            Watermark(version="0", timestamp="1970-01-01T00:00:00+00:00")
        )
        stream = StructuredBlobStream(
            spark=spark,
            path=src,
            schema=(
                "o_orderkey bigint, o_orderstatus string, "
                "o_totalprice double"
            ),
            primary_keys=["o_orderkey"],
            sink=MergeSink(target=target, dialect=UPSERT_BLOB),
            watermark_store=store,
            checkpoint_dir=os.path.join(run_dir, "ckpt"),
        )
        query = stream.start(trigger={"processingTime": "400 milliseconds"})

        def wait_until(pred, what, timeout=90.0):
            deadline = _time.time() + timeout
            while _time.time() < deadline:
                if pred():
                    return
                _time.sleep(0.2)
            raise AssertionError(
                f"timed out waiting for {what}: wm={store.read()}"
            )

        try:
            # phase 1: quiet source → idle trigger advances timestamp ONLY
            wait_until(
                lambda: stream.idle_advances >= 1,
                "idle watermark-only advance on the empty source",
            )
            wm = store.read()
            if wm.version != "0" or wm.timestamp.startswith("1970"):
                raise AssertionError(
                    f"idle advance corrupted the watermark: {wm}"
                )
            idle_before_data = stream.idle_advances

            # phase 2: wave 1 (full orders snapshot) merges in its trigger
            stage(orders, "w1", V1)
            wait_until(
                lambda: store.read().version == str(V1 * 1_000_000),
                "wave-1 commit"
            )

            # phase 3: wave 2 (every third key updated) upserts over wave 1
            stage(
                orders.filter(F.col("o_orderkey") % 3 == 0).withColumn(
                    "o_orderstatus", F.lit("U")
                ),
                "w2",
                V2,
            )
            wait_until(
                lambda: store.read().version == str(V2 * 1_000_000),
                "wave-2 commit"
            )
        finally:
            query.stop()
            stream.detach_idle_listener()

        if idle_before_data < 1:
            raise AssertionError("no watermark-only advance before first data")
        # >= 3 trigger firings total: >=1 idle + the two data batches
        if stream.idle_advances + 2 < 3:
            raise AssertionError(
                f"too few triggers: idle={stream.idle_advances}"
            )
        return target.read().select(
            "o_orderkey",
            F.col("o_orderstatus").alias("status"),
            # stream versions are MICROSECONDS (same-second-wave fix,
            # r9); the frozen oracle speaks epoch seconds
            F.expr("createdon DIV 1000000").alias("version"),
        )

    try:
        snap_dir = tempfile.mkdtemp(prefix="arcane_t1s_snap_")
        final = run_vertical(
            SnapshotParquetTarget(spark, os.path.join(snap_dir, "tgt"))
        )
        # twin on the transactional DSv2 catalog: both waves' MERGE INTO
        # execute for real inside their triggers
        cat_table = _fresh_mem_table(spark, "arcm.gate.t1_stream")
        cat_final = run_vertical(CatalogTarget(spark, cat_table))
        d1 = cat_final.exceptAll(final).count()
        d2 = final.exceptAll(cat_final).count()
        if d1 or d2:
            raise AssertionError(
                f"catalog vs snapshot stream diverged: {d1}/{d2} rows"
            )
    finally:
        if prev_idle is None:
            spark.conf.unset(idle_conf)
        else:
            spark.conf.set(idle_conf, prev_idle)
    return final


_T1_STREAM_SQL = """
SELECT o_orderkey,
       CASE WHEN o_orderkey % 3 = 0 THEN 'U' ELSE o_orderstatus END AS status,
       CAST(CASE WHEN o_orderkey % 3 = 0 THEN 1700001000
                 ELSE 1700000000 END AS BIGINT) AS version
FROM orders
"""


def q_t3_shaped_trigger_vertical(spark, sf_dir):
    """The T3/T4 shaper chain driving the REAL trigger cap (VERDICT r6
    item 7): ``MemoryBoundShaper`` sizes the stream's per-trigger file
    cap from the live memory budget and the source's parquet-footer
    stats — the reference's shaper feeding ``throttleShape``
    (``ThroughputShaper.scala:22-40``), mapped onto Spark's
    ``maxFilesPerTrigger``. The SAME 8-file ingest (6 wave-1 slices +
    2 wave-2 update files) runs twice end-to-end through
    stage→merge→watermark: once under a generous memory budget (large
    cap → few batches) and once under a SHRUNKEN budget (cap drops to
    1 file → more, smaller batches). The gate counts merge triggers —
    the shrunken run must fire strictly more — and the two final tables
    must be row-identical (version-guarded MERGE makes batch slicing
    invisible). Oracle: per-key latest-version-wins."""
    import tempfile

    from arcane_framework_scala_spark.queries.merge import UPSERT_BLOB
    from arcane_framework_scala_spark.sinks.merge_sink import (
        MergeSink,
        SnapshotParquetTarget,
    )
    from arcane_framework_scala_spark.streaming.structured import (
        StructuredBlobStream,
    )
    from arcane_framework_scala_spark.streaming.throughput import (
        MemoryBoundShaper,
    )
    from arcane_framework_scala_spark.streaming.watermark import (
        FileWatermarkStore,
    )

    _harden_session(spark)
    V1, V2 = 1_700_000_000, 1_700_001_000
    orders = _read(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    stage_root = tempfile.mkdtemp(prefix="arcane_t3s_src_")
    src = os.path.join(stage_root, "incoming")
    os.makedirs(src)

    def stage(df, name, mtime):
        sub = os.path.join(stage_root, "stage_" + name)
        df.coalesce(1).write.parquet(sub)
        for f in os.listdir(sub):
            if f.endswith(".parquet"):
                dst = os.path.join(src, name + ".parquet")
                os.rename(os.path.join(sub, f), dst)
                os.utime(dst, (mtime, mtime))

    for i in range(6):  # wave 1: six disjoint slices, version V1
        stage(orders.filter(F.col("o_orderkey") % 6 == i), f"w1_{i}", V1)
    upd = orders.filter(F.col("o_orderkey") % 3 == 0).withColumn(
        "o_orderstatus", F.lit("U")
    )
    for i in range(2):  # wave 2: two update files, version V2
        stage(upd.filter(F.col("o_orderkey") % 2 == i), f"w2_{i}", V2)

    def run(tag, free_bytes):
        run_dir = tempfile.mkdtemp(prefix=f"arcane_t3s_{tag}_")
        stream = StructuredBlobStream(
            spark=spark,
            path=src,
            schema=(
                "o_orderkey bigint, o_orderstatus string, "
                "o_totalprice double"
            ),
            primary_keys=["o_orderkey"],
            sink=MergeSink(
                target=SnapshotParquetTarget(
                    spark, os.path.join(run_dir, "tgt")
                ),
                dialect=UPSERT_BLOB,
            ),
            watermark_store=FileWatermarkStore(
                path=os.path.join(run_dir, "wm.json")
            ),
            checkpoint_dir=os.path.join(run_dir, "ckpt"),
            shaper=MemoryBoundShaper(free_memory_fn=lambda: free_bytes),
            idle_watermark_advance=False,
        )
        stream.run_available()
        final = stream.sink.target.read().select(
            "o_orderkey",
            F.col("o_orderstatus").alias("status"),
            # stream versions are MICROSECONDS (same-second-wave fix,
            # r9); the frozen oracle speaks epoch seconds
            F.expr("createdon DIV 1000000").alias("version"),
        )
        return stream, final

    roomy, final_a = run("roomy", 8 << 30)
    # 128 KiB: small enough that the chunk estimate holds fewer rows
    # than ONE source file at every test SF -> cap degrades to 1 file
    tight, final_b = run("tight", 1 << 17)
    if roomy.shaped_cap <= tight.shaped_cap:
        raise AssertionError(
            f"shrinking memory did not shrink the cap: "
            f"{roomy.shaped_cap} vs {tight.shaped_cap}"
        )
    if tight.batches_processed <= roomy.batches_processed:
        raise AssertionError(
            f"shrunken budget should fire more, smaller triggers: "
            f"{tight.batches_processed} vs {roomy.batches_processed}"
        )
    if tight.shaped_cap != 1 or tight.batches_processed != 8:
        raise AssertionError(
            f"tight run expected 8 one-file triggers, got cap="
            f"{tight.shaped_cap} batches={tight.batches_processed}"
        )
    d1 = final_a.exceptAll(final_b).count()
    d2 = final_b.exceptAll(final_a).count()
    if d1 or d2:
        raise AssertionError(
            f"batch slicing changed the merged table: {d1}/{d2} rows"
        )
    return final_a


def q_t_stream_sessionize(spark, sf_dir):
    """Gap-based sessionization through Spark's native ``session_window``
    on a real stream (4 micro-batches, complete mode): session_window's
    merge boundary is inclusive (events exactly ``gap`` apart share a
    session — verified: a 1801 s gap over-merged by one session at
    sf0.01), so gap = 1800 s reproduces the batch operator's
    strict-``>`` split rule and the lag+cumsum batch ORACLE
    (``sessionize_sql``) hash-checks the native streaming session state —
    two independent implementations, one answer. session_window metadata
    is discarded in favor of min/max(sec) so the output schema matches
    the batch operator column-for-column."""
    import tempfile
    import uuid

    _harden_session(spark)
    ev = _read(spark, sf_dir, "events").select(
        "user_id", tumbling_window("ts", 1).alias("__sec")
    )
    stage_dir = os.path.join(
        tempfile.gettempdir(), f"arcane_tss_stage_{uuid.uuid4().hex}"
    )
    ev.repartition(4).write.parquet(stage_dir)
    stream = (
        spark.readStream.schema("user_id long, __sec long")
        .option("maxFilesPerTrigger", 1)
        .parquet(stage_dir)
    )
    agg = (
        stream.withColumn("__t", F.timestamp_seconds(F.col("__sec")))
        .groupBy("user_id", F.session_window("__t", "1800 seconds"))
        .agg(
            F.min("__sec").alias("session_id"),
            F.min("__sec").alias("session_start"),
            F.max("__sec").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select("user_id", "session_id", "session_start", "session_end", "n_events")
    )
    sink = f"tss_sink_{uuid.uuid4().hex}"
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            agg.writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    if q.lastProgress is None or q.lastProgress["batchId"] < 1:
        raise AssertionError("expected multiple streaming micro-batches")
    return spark.table(sink)


def q_t_stream_hll(spark, sf_dir):
    """Sketches on the streaming path: a running HyperLogLog of
    distinct users maintained across REAL micro-batches — the
    "distinct users today" dashboard at 100 TB, where each trigger
    merges its batch's 512-register sketch into the standing one
    (register max — the coordinator-side merge a 1000-executor fleet
    performs) instead of re-scanning history. Three staged file waves
    stream through ``foreachBatch``; each batch's registers are merged
    into the running sketch. Exactness invariant asserted in-gate: the
    streamed merge must equal the direct batch sketch of ALL data,
    register for register — a single divergence fails the gate. Output
    carries the estimate beside the exact distinct count; the oracle
    is the batch HLL twin over the full table."""
    import tempfile
    import uuid

    from arcane_framework_scala_spark.functions import sketch as sk

    _harden_session(spark)
    ev = _read(spark, sf_dir, "events").select("user_id")
    stage_dir = os.path.join(
        tempfile.gettempdir(), f"arcane_shll_stage_{uuid.uuid4().hex}"
    )
    os.makedirs(stage_dir)
    for i in range(3):
        part = ev.filter(F.col("user_id") % 3 == i)
        sub = os.path.join(stage_dir, f"q{i}")
        part.coalesce(1).write.parquet(sub)
        for f in os.listdir(sub):
            if f.endswith(".parquet"):
                os.rename(
                    os.path.join(sub, f),
                    os.path.join(stage_dir, f"{i:02d}.parquet"),
                )

    running: dict[int, int] = {}
    batches = []

    def merge_batch(batch_df, batch_id):
        # per-batch sketch is <= 512 rows — the collect IS the
        # coordinator merge, metadata-sized by construction
        regs = sk.hll_sketch(batch_df, "user_id").collect()
        for r in regs:
            i, rk = int(r["idx"]), int(r["r"])
            if rk > running.get(i, 0):
                running[i] = rk
        batches.append(batch_id)

    q = (
        spark.readStream.schema("user_id bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{stage_dir}/*.parquet")
        .writeStream.foreachBatch(merge_batch)
        .option(
            "checkpointLocation",
            os.path.join(stage_dir, "ckpt"),
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if len(batches) != 3:
        raise AssertionError(f"expected 3 micro-batches, got {batches}")
    direct = {
        int(r["idx"]): int(r["r"])
        for r in sk.hll_sketch(ev, "user_id").collect()
    }
    if running != direct:
        raise AssertionError("streamed HLL merge != direct batch sketch")
    regs_df = spark.createDataFrame(
        [(i, r) for i, r in sorted(running.items())], "idx long, r int"
    )
    return (
        sk.hll_estimate(regs_df)
        .crossJoin(ev.agg(F.countDistinct("user_id").alias("exact_n")))
        .select(
            F.lit("stream_users").alias("scope"),
            "n_registers",
            "est_micro",
            "exact_n",
        )
    )


def _t_stream_hll_sql() -> str:
    from arcane_framework_scala_spark.functions import sketch as sk

    est = sk.hll_distinct_sql("(SELECT user_id FROM events)", "user_id")
    return f"""
SELECT 'stream_users' AS scope, e.n_registers, e.est_micro,
       (SELECT count(DISTINCT user_id) FROM events) AS exact_n
FROM ({est}) e
"""


def q_t_hll_state_merge(spark, sf_dir):
    """Sketch state maintained BY the merge machinery: the HLL register
    table lives as a real DSv2 catalog table (≤ 512 rows) and every
    ingest wave upserts it with a generated MERGE INTO — register max
    as conditional row-level ops (UPDATE only when the batch's rank
    beats the stored one). This is the 100 TB "distinct keys ever
    seen" posture: per-batch sketch + tiny-table merge, never a
    re-scan of history. Three event waves merge for real on the
    javaext MemCatalog; the in-gate assert requires the final stored
    registers to equal the direct whole-corpus sketch exactly, and the
    returned row carries the table-derived estimate beside the exact
    distinct count. Oracle = the batch HLL twin over the full table
    (same as t_stream_hll — two different maintenance paths, one
    answer)."""
    from arcane_framework_scala_spark.functions import sketch as sk

    _harden_session(spark)
    table = _fresh_mem_table(spark, "arcm.gate.hll_state")
    spark.sql(f"CREATE TABLE {table} (idx BIGINT, r INT) USING mem")

    ev = _read(spark, sf_dir, "events").select("user_id")
    for wave in range(3):
        batch = ev.filter(F.col("user_id") % 3 == wave)
        regs = sk.hll_sketch(batch, "user_id")
        view = f"__hll_wave_{wave}"
        regs.createOrReplaceTempView(view)
        try:
            spark.sql(sk.hll_state_merge_sql(table, view))
        finally:
            spark.catalog.dropTempView(view)

    stored = spark.table(table)
    direct = sk.hll_sketch(ev, "user_id")
    d1 = stored.exceptAll(direct).count()
    d2 = direct.exceptAll(stored).count()
    if d1 or d2:
        raise AssertionError(
            f"merged register table != direct sketch: {d1}/{d2} rows"
        )
    return (
        sk.hll_estimate(stored)
        .crossJoin(ev.agg(F.countDistinct("user_id").alias("exact_n")))
        .select(
            F.lit("state_users").alias("scope"),
            "n_registers",
            "est_micro",
            "exact_n",
        )
    )


def _t_hll_state_sql() -> str:
    from arcane_framework_scala_spark.functions import sketch as sk

    est = sk.hll_distinct_sql("(SELECT user_id FROM events)", "user_id")
    return f"""
SELECT 'state_users' AS scope, e.n_registers, e.est_micro,
       (SELECT count(DISTINCT user_id) FROM events) AS exact_n
FROM ({est}) e
"""


def q_t_stream_dedup(spark, sf_dir):
    """Bounded-state streaming dedup (``dropDuplicatesWithinWatermark``)
    end-to-end over four staged micro-batches: b0 sends the even keys,
    b1 re-sends EVERY key (evens must be suppressed as in-horizon
    duplicates, odds emit first-seen), b2's far-future sentinel advances
    the watermark past every key's eviction point, and b3 re-sends the
    keys divisible by 4 — their state is gone, so they re-emit: the
    at-least-once-beyond-the-horizon contract, observed. Only the key
    column is emitted (survivor payload is arrival-order-dependent by
    design). Oracle = distinct keys + sentinel + the re-sent subset."""
    import tempfile
    import uuid

    from arcane_framework_scala_spark.streaming.stateful import (
        stream_exact_dedup,
    )

    _harden_session(spark)
    base = (
        _read(spark, sf_dir, "events")
        .select((F.col("event_id") % 200).alias("dkey"))
        .withColumn("sts", F.lit(100) + F.col("dkey") % 50)
    )
    def sentinel(key: int, sts: int):
        return spark.range(1).select(
            F.lit(key).cast("long").alias("dkey"),
            F.lit(sts).cast("long").alias("sts"),
        )

    # the second sentinel burns a batch: state eviction applies the
    # watermark with one batch of lag (measured, same as the late-data
    # gate), so the re-send must arrive two batches after the watermark
    # push for the old entries to be gone
    batches = [
        base.filter(F.col("dkey") % 2 == 0),
        base,
        sentinel(-1, 100_000),
        sentinel(-2, 100_010),
        base.filter(F.col("dkey") % 4 == 0).withColumn(
            "sts", F.lit(100_050).cast("long")
        ),
    ]
    stage_dir = os.path.join(
        tempfile.gettempdir(), f"arcane_sdd_stage_{uuid.uuid4().hex}"
    )
    os.makedirs(stage_dir)
    mtime = 1_000_000_000
    for i, part in enumerate(batches):
        sub = os.path.join(stage_dir, f"b{i}")
        part.coalesce(1).write.parquet(sub)
        for f in os.listdir(sub):
            if f.endswith(".parquet"):
                dst = os.path.join(stage_dir, f"{i:02d}.parquet")
                os.rename(os.path.join(sub, f), dst)
                os.utime(dst, (mtime + i * 1000, mtime + i * 1000))

    stream = (
        spark.readStream.schema("dkey long, sts long")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{stage_dir}/*.parquet")
    )
    deduped = stream_exact_dedup(
        stream.withColumn("tsc", F.timestamp_seconds(F.col("sts"))),
        subset=["dkey"],
        event_time_col="tsc",
        delay="10 minutes",
    ).select("dkey")
    sink = f"sdd_sink_{uuid.uuid4().hex}"
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            deduped.writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    if q.lastProgress is None or q.lastProgress["batchId"] < 4:
        raise AssertionError("expected 5 streaming micro-batches")
    return spark.table(sink)


_T_STREAM_DEDUP_SQL = """
WITH keys AS (SELECT DISTINCT event_id % 200 AS dkey FROM events)
SELECT dkey FROM keys
UNION ALL SELECT CAST(-1 AS BIGINT)
UNION ALL SELECT CAST(-2 AS BIGINT)
UNION ALL SELECT dkey FROM keys WHERE dkey % 4 = 0
"""


def q_t_stream_late_data(spark, sf_dir):
    """Watermark semantics end-to-end in append mode, four staged
    micro-batches: batch 0 closes windows W0/W1 (max event 119 s →
    watermark 89 s), batch 1 fills W2, batch 2 carries ONLY late rows
    for the long-finalized W0 — by then the watermark is in effect and
    they must be DROPPED (measured: Spark applies a new watermark with
    one batch of lag, so late rows one batch behind are still accepted;
    two batches behind are not) — and batch 3's far-future sentinel
    pushes the watermark so every legitimate window emits while the
    sentinel's own window stays open and is withheld. Oracle = the
    pure-SQL restatement: batches 0-1 only. Timestamps derive
    deterministically from event_id so Spark staging and DuckDB agree
    row-for-row."""
    import tempfile
    import uuid

    _harden_session(spark)
    ev = _read(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 1000).cast("long").alias("vm"),
    )
    eid = F.col("event_id")
    batch = (eid % 4).alias("batch")
    sts = (
        F.when(eid % 4 == 0, (eid * 7) % 120)
        .when(eid % 4 == 1, 120 + eid % 60)
        .when(eid % 4 == 2, eid % 60)
        .otherwise(F.lit(10_000))
    ).alias("sts")
    synth = ev.select("event_type", "vm", batch, sts)

    stage_dir = os.path.join(
        tempfile.gettempdir(), f"arcane_late_stage_{uuid.uuid4().hex}"
    )
    os.makedirs(stage_dir)
    mtime = 1_000_000_000
    for i in range(4):
        sub = os.path.join(stage_dir, f"b{i}")
        synth.filter(F.col("batch") == i).drop("batch").coalesce(1).write.parquet(sub)
        for f in os.listdir(sub):
            if f.endswith(".parquet"):
                dst = os.path.join(stage_dir, f"{i:02d}.parquet")
                os.rename(os.path.join(sub, f), dst)
                os.utime(dst, (mtime + i * 1000, mtime + i * 1000))

    stream = (
        spark.readStream.schema("event_type string, vm long, sts long")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{stage_dir}/*.parquet")
    )
    agg = (
        stream.withColumn("tsc", F.timestamp_seconds(F.col("sts")))
        .withWatermark("tsc", "30 seconds")
        .groupBy(F.window("tsc", "60 seconds"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("vm").alias("value_milli_sum"),
        )
        .select(
            F.col("window.start").cast("long").alias("window_start"),
            "event_type",
            "n",
            "value_milli_sum",
        )
    )
    sink = f"late_sink_{uuid.uuid4().hex}"
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            agg.writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return spark.table(sink)


_T_STREAM_LATE_SQL = """
WITH synth AS (
  SELECT event_type, CAST(floor(value * 1000) AS BIGINT) AS vm,
         event_id % 4 AS batch,
         CASE WHEN event_id % 4 = 0 THEN (event_id * 7) % 120
              WHEN event_id % 4 = 1 THEN 120 + event_id % 60
              WHEN event_id % 4 = 2 THEN event_id % 60
              ELSE 10000 END AS sts
  FROM events
)
SELECT (sts // 60) * 60 AS window_start, event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(vm) AS BIGINT) AS value_milli_sum
FROM synth
WHERE batch IN (0, 1)   -- batch 2 = watermark-dropped late rows,
                        -- batch 3 = sentinel window, never finalized
GROUP BY ALL
"""


def q_t_stateful_first_seen(spark, sf_dir):
    """Custom stateful operator (``applyInPandasWithState``) through the
    driver gate with a strict oracle: events staged as 4 time-quartile
    files (mtimes forced ascending so the file source replays them in
    event-time order, one micro-batch each), projected to
    ``(user_id, ts_key)`` with a zero-padded ts so lexicographic ==
    numeric order. Cross-batch first-seen-per-user state then emits
    exactly each user's minimum-ts row — SQL-expressible as
    ``min(ts_key) GROUP BY user_id``, so streaming state management gets
    a value-hash check, not a rows-only one."""
    import tempfile
    import uuid

    from arcane_framework_scala_spark.streaming.stateful import (
        stateful_first_seen,
    )

    _harden_session(spark)
    # ts_key truncates nanos→micros: DuckDB reads TIMESTAMP(NANOS) at
    # micro precision, and truncation is order-preserving so min-per-user
    # is unchanged. Exact int64 arithmetic (see tumbling_window note).
    ev = _read(spark, sf_dir, "events").select(
        "user_id",
        F.lpad(
            (F.col("ts") - (F.col("ts") % 1000)).cast("string"), 20, "0"
        ).alias("ts_key"),
        F.col("ts").alias("ts"),
    )
    qs = ev.agg(
        F.expr("percentile_approx(ts, array(0.25, 0.5, 0.75), 10000)")
    ).first()[0]
    stage_dir = os.path.join(
        tempfile.gettempdir(), f"arcane_tfs_stage_{uuid.uuid4().hex}"
    )
    os.makedirs(stage_dir)
    bounds = [None, *qs, None]
    mtime = 1_000_000_000
    for i in range(4):
        part = ev
        if bounds[i] is not None:
            part = part.filter(F.col("ts") > bounds[i])
        if bounds[i + 1] is not None:
            part = part.filter(F.col("ts") <= bounds[i + 1])
        sub = os.path.join(stage_dir, f"q{i}")
        part.drop("ts").coalesce(1).write.parquet(sub)
        for f in os.listdir(sub):
            if f.endswith(".parquet"):
                src = os.path.join(sub, f)
                dst = os.path.join(stage_dir, f"{i:02d}.parquet")
                os.rename(src, dst)
                os.utime(dst, (mtime + i * 1000, mtime + i * 1000))

    stream = spark.readStream.schema(
        "user_id long, ts_key string"
    ).option("maxFilesPerTrigger", 1).parquet(f"{stage_dir}/*.parquet")
    sink = f"tfs_sink_{uuid.uuid4().hex}"
    # 150 distinct users: 32 state-store partitions × 4 micro-batches is
    # pure checkpoint overhead at gate scale — drop to 8 for the stream
    # (state partitioning is fixed at query start), restore after.
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            stateful_first_seen(stream, "user_id")
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    if q.lastProgress is None or q.lastProgress["batchId"] < 3:
        raise AssertionError("expected 4 streaming micro-batches")
    return spark.table(sink)


_T_STATEFUL_FIRST_SEEN_SQL = """
SELECT user_id,
       min(lpad(CAST(epoch_ns(ts) AS VARCHAR), 20, '0')) AS ts_key
FROM events
GROUP BY user_id
"""


def q_dedup_bloom_probe(spark, sf_dir):
    """Bloom-filter decontamination probe: the benchmark docs (every
    10th, the ``corpus_contamination`` convention) populate an
    engine-portable Bloom filter (set bit positions from salted md5);
    every corpus document's 8-grams are membership-tested against it.
    Deterministic including false positives, so the oracle hash-matches.
    Plan: broadcast bit set, k broadcast left joins, ONE wide shuffle
    (the per-doc aggregation)."""
    from arcane_framework_scala_spark.functions.bloom import bloom_probe

    docs = _read(spark, sf_dir, "documents")
    return bloom_probe(
        docs.filter(F.col("doc_id") % 10 != 0),
        docs.filter(F.col("doc_id") % 10 == 0),
    )


def q_t_grouping_sets(spark, sf_dir):
    """(event_type, day) → (event_type) → () ROLLUP in ONE aggregation —
    Spark expands grouping sets map-side, so the raw table is scanned
    once instead of three-union'd. Fixed-point value sums; grouping_id
    bitmask pinned against DuckDB's GROUPING()."""
    from arcane_framework_scala_spark.operators.analytics import (
        rollup_event_stats,
    )

    return rollup_event_stats(_read(spark, sf_dir, "events"))


def q_t_moving_avg(spark, sf_dir):
    """Trailing 1-hour RANGE window per user: count + fixed-point mean of
    the user's events in the preceding hour. Value-keyed frame (ties at
    the same second included) → deterministic without a full-order
    tiebreak; one shuffle on user_id, sliding-frame evaluation."""
    from arcane_framework_scala_spark.operators.analytics import (
        rolling_user_stats,
    )

    return rolling_user_stats(_read(spark, sf_dir, "events"))


def q_a9_partition_advisor(spark, sf_dir):
    """The 100×-scale-up arithmetic as an operator: estimate lineitem's
    uncompressed bytes from a schema-driven row-width model (the
    MemoryBoundShaper cost-matrix flavor, ``MemoryBoundShaper.scala:
    88-141``) and derive file count @512 MiB, rows/file, and clamped
    shuffle-partition count @128 MiB — the reference's shard-sizing
    arithmetic (``QueryProvider.scala:169-193``) turned onto the sink
    side. One narrow aggregation, pure integer advisory."""
    from arcane_framework_scala_spark.plans.advisor import partition_advisor

    return partition_advisor(_read(spark, sf_dir, "lineitem"))


def q_sim_pq_codes(spark, sf_dir):
    """Product-quantization encode: per-subspace trained codebooks (the
    deterministic fixed-point Lloyd fit, m=4 × ksub=8 over 16-d slices)
    and every vector's nearest-centroid code per subspace — the 4-byte
    compressed representation behind FAISS-style IVF-PQ. Codebooks
    broadcast; winner per (vector, subspace) via max_by hash agg."""
    from arcane_framework_scala_spark.functions.pq import pq_encode, pq_fit

    emb = _read(spark, sf_dir, "embeddings")
    cb = pq_fit(emb, m=4, ksub=8, iters=2, dim=64)
    return pq_encode(emb, cb, m=4, dim=64)


def q_sim_pq_topk(spark, sf_dir):
    """PQ asymmetric-distance (ADC) top-k: queries build a 32-entry
    integer lookup table of subspace dot products; the search joins the
    narrow code table against the broadcast LUT and ranks on integer
    micro-scores — no vector math in the hot path, no embedding shuffle.
    Recall vs brute force is pinned in tests/test_pq.py. Searches a
    prefit shared codebook (production shape — see _pq_codebook);
    sim_pq_codes keeps the fit-included training path."""
    from arcane_framework_scala_spark.functions.pq import pq_topk

    return pq_topk(
        _read(spark, sf_dir, "embeddings"), _COSINE_QUERY_IDS, k=10,
        codebooks=_pq_codebook(spark, sf_dir),
    )


def q_sim_pq_rerank(spark, sf_dir):
    """The production PQ pattern: ADC shortlist (codes only, 50 rows per
    query) → exact cosine rerank of the shortlist alone. Recall of the
    two stages is measured and pinned in tests/test_pq.py; this gate
    hash-checks the composed plan end-to-end."""
    from arcane_framework_scala_spark.functions.pq import pq_rerank_topk

    return pq_rerank_topk(
        _read(spark, sf_dir, "embeddings"), _COSINE_QUERY_IDS, k=10,
        shortlist=50, codebooks=_pq_codebook(spark, sf_dir),
    )


def q_corpus_bpe_merges(spark, sf_dir):
    """Corpus-scale BPE tokenizer training: the corpus collapses to
    distinct words × frequency (Heaps-bounded), then 5 merge rounds —
    pair counts via lead(), 1-row argmax broadcast, greedy left-to-right
    non-overlapping application done relationally (gaps-and-islands
    runs, even offsets merge). Pure integer/string plans, so the whole
    iterative fit hash-matches the unrolled-CTE oracle."""
    from arcane_framework_scala_spark.functions.bpe import bpe_merges

    return bpe_merges(_read(spark, sf_dir, "documents"), merges=5)


def q_corpus_bpe_tokens(spark, sf_dir):
    """The learned merges applied back to the corpus: per-document BPE
    token counts — per-word tokenization lengths joined to word
    occurrences (the corpus is never re-tokenized character-wise)."""
    from arcane_framework_scala_spark.functions.bpe import bpe_token_counts

    return bpe_token_counts(_read(spark, sf_dir, "documents"), merges=5)


def q_t_stream_stream_join(spark, sf_dir):
    """Stream-stream event-time interval join through actual Structured
    Streaming: views and purchases read as two independent file streams
    (two staged micro-batches each), joined on user within
    [view_ts, view_ts + 30 min]. Both sides carry watermarks and the
    range condition bounds join state; the delay here (40 days > the
    data span) retains all state so availableNow emits the complete
    answer — the oracle is the batch interval join. Matches that span
    micro-batches prove the state store does the work."""
    import tempfile
    import uuid

    _harden_session(spark)
    ev = (
        _read(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("view", "purchase"))
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.expr("ts div 1000000000").alias("sec"),
        )
    )
    stage_dir = os.path.join(
        tempfile.gettempdir(), f"arcane_ssj_stage_{uuid.uuid4().hex}"
    )
    os.makedirs(stage_dir)
    mtime = 1_000_000_000
    for i in range(2):
        sub = os.path.join(stage_dir, f"b{i}")
        ev.filter(F.col("event_id") % 2 == i).coalesce(1).write.parquet(sub)
        for f in os.listdir(sub):
            if f.endswith(".parquet"):
                dst = os.path.join(stage_dir, f"{i:02d}.parquet")
                os.rename(os.path.join(sub, f), dst)
                os.utime(dst, (mtime + i * 1000, mtime + i * 1000))

    schema = "event_id long, user_id long, event_type string, sec long"

    def _side(tname, prefix):
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{stage_dir}/*.parquet")
            .filter(F.col("event_type") == tname)
            .select(
                F.col("event_id").alias(f"{prefix}_id"),
                F.col("user_id").alias(f"{prefix}_user"),
                F.timestamp_seconds(F.col("sec")).alias(f"{prefix}_ts"),
            )
            .withWatermark(f"{prefix}_ts", "40 days")
        )

    v, p = _side("view", "v"), _side("purchase", "p")
    joined = v.join(
        p,
        F.expr(
            "v_user = p_user AND p_ts >= v_ts "
            "AND p_ts <= v_ts + interval 30 minutes"
        ),
    ).select(
        F.col("v_id").alias("view_id"),
        F.col("p_id").alias("purchase_id"),
        F.col("v_user").alias("user_id"),
        (F.col("p_ts").cast("long") - F.col("v_ts").cast("long")).alias(
            "lag_s"
        ),
    )
    sink = f"ssj_sink_{uuid.uuid4().hex}"
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            joined.writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    if q.lastProgress is None or q.lastProgress["batchId"] < 1:
        raise AssertionError("expected 2 streaming micro-batches")
    return spark.table(sink)


_T_STREAM_SSJ_SQL = """
WITH e AS (
  SELECT event_id, user_id, event_type,
         epoch_ns(ts) // 1000000000 AS sec
  FROM events WHERE event_type IN ('view', 'purchase')
)
SELECT v.event_id AS view_id, p.event_id AS purchase_id,
       v.user_id, p.sec - v.sec AS lag_s
FROM e v JOIN e p
  ON v.user_id = p.user_id AND v.event_type = 'view'
 AND p.event_type = 'purchase'
 AND p.sec >= v.sec AND p.sec <= v.sec + 1800
"""


def q_w4_time_travel(spark, sf_dir):
    """Time travel over the versioned-parquet target: two sequential CT
    merges commit snapshots v=1 (bootstrap) and v=2; the gate returns
    BOTH ``read_version(1)`` (the historical state — Iceberg
    ``VERSION AS OF`` / Delta ``versionAsOf``) and the current read,
    tagged, in one hash — proving old snapshots stay intact and
    readable after later commits (the property the maintenance gate's
    expiry then takes away deliberately)."""
    import tempfile

    from arcane_framework_scala_spark.sinks.merge_sink import (
        SnapshotParquetTarget,
    )

    _harden_session(spark)
    ev = _read(spark, sf_dir, "events")
    mx = ev.agg(F.max("event_id")).first()[0]
    t_hi, t_mid = (mx * 6) // 10, (mx * 3) // 10
    batch = ev.filter(F.col("event_id") <= t_hi).select(
        mssql_merge_key("user_id").alias("ARCANE_MERGE_KEY"),
        F.col("event_id").alias("SYS_CHANGE_VERSION"),
        F.when(F.col("event_type") == "error", "D").otherwise("U").alias(
            "SYS_CHANGE_OPERATION"
        ),
        "user_id",
        "event_type",
        F.floor(F.col("value") * 1000).cast("long").alias("value_milli"),
    )
    run_dir = tempfile.mkdtemp(prefix="arcane_w4_run_")
    target = SnapshotParquetTarget(spark, os.path.join(run_dir, "tgt"))
    target.merge(
        batch.filter(F.col("SYS_CHANGE_VERSION") <= t_mid),
        SQL_SERVER_CHANGE_TRACKING,
    )
    target.merge(
        batch.filter(F.col("SYS_CHANGE_VERSION") > t_mid),
        SQL_SERVER_CHANGE_TRACKING,
    )
    assert target.versions() == [1, 2], target.versions()
    v1 = target.read_version(1).withColumn("snapshot", F.lit("v1"))
    cur = target.read().withColumn("snapshot", F.lit("current"))
    return v1.unionByName(cur)


_W4_SQL = f"""
WITH b AS (
  SELECT max(event_id) * 6 // 10 AS t_hi,
         max(event_id) * 3 // 10 AS t_mid
  FROM events
),
src AS (
  SELECT {mssql_merge_key_sql('user_id')} AS k,
         event_id AS ver,
         event_type = 'error' AS del,
         user_id, event_type,
         CAST(floor(value * 1000) AS BIGINT) AS value_milli,
         CASE WHEN event_id <= b.t_mid THEN 1 ELSE 2 END AS batch
  FROM events, b WHERE event_id <= b.t_hi
),
ranked AS (
  SELECT *, rank() OVER (PARTITION BY k, batch ORDER BY ver DESC) AS rk
  FROM src
),
b1 AS (SELECT * FROM ranked WHERE batch = 1 AND rk = 1),
b2 AS (SELECT * FROM ranked WHERE batch = 2 AND rk = 1),
merged AS (
  SELECT coalesce(b2.k, b1.k) AS k,
         CASE WHEN b2.k IS NOT NULL THEN b2.ver ELSE b1.ver END AS ver,
         CASE WHEN b2.k IS NOT NULL THEN b2.user_id ELSE b1.user_id END
           AS user_id,
         CASE WHEN b2.k IS NOT NULL THEN b2.event_type ELSE b1.event_type END
           AS event_type,
         CASE WHEN b2.k IS NOT NULL THEN b2.value_milli
              ELSE b1.value_milli END AS value_milli
  FROM b1 FULL JOIN b2 ON b1.k = b2.k
  WHERE CASE WHEN b2.k IS NOT NULL THEN NOT b2.del ELSE NOT b1.del END
)
SELECT k AS "ARCANE_MERGE_KEY", ver AS "SYS_CHANGE_VERSION",
       user_id, event_type, value_milli, 'v1' AS snapshot
FROM b1 WHERE NOT del
UNION ALL
SELECT k, ver, user_id, event_type, value_milli, 'current' AS snapshot
FROM merged
"""


def q_w5_change_feed(spark, sf_dir):
    """Change data feed derived between two committed snapshots (Delta
    CDF / Iceberg ``changes`` semantics without stored change logs):
    the w4 target's v=1 → v=2 diff as (key, op, pre/post images) from
    ONE full-outer join on the merge key. Inserts are batch-2-only
    keys; updates are version bumps; deletes are batch-2 tombstones of
    batch-1 rows."""
    import tempfile

    from arcane_framework_scala_spark.operators.diff import snapshot_diff
    from arcane_framework_scala_spark.sinks.merge_sink import (
        SnapshotParquetTarget,
    )

    _harden_session(spark)
    ev = _read(spark, sf_dir, "events")
    mx = ev.agg(F.max("event_id")).first()[0]
    t_hi, t_mid = (mx * 6) // 10, (mx * 3) // 10
    batch = ev.filter(F.col("event_id") <= t_hi).select(
        mssql_merge_key("user_id").alias("ARCANE_MERGE_KEY"),
        F.col("event_id").alias("SYS_CHANGE_VERSION"),
        F.when(F.col("event_type") == "error", "D").otherwise("U").alias(
            "SYS_CHANGE_OPERATION"
        ),
        "user_id",
        F.floor(F.col("value") * 1000).cast("long").alias("value_milli"),
    )
    run_dir = tempfile.mkdtemp(prefix="arcane_w5_run_")
    target = SnapshotParquetTarget(spark, os.path.join(run_dir, "tgt"))
    target.merge(
        batch.filter(F.col("SYS_CHANGE_VERSION") <= t_mid),
        SQL_SERVER_CHANGE_TRACKING,
    )
    target.merge(
        batch.filter(F.col("SYS_CHANGE_VERSION") > t_mid),
        SQL_SERVER_CHANGE_TRACKING,
    )
    cdf = snapshot_diff(
        target.read_version(1),
        target.read_version(2),
        keys=["ARCANE_MERGE_KEY"],
        compare_cols=["SYS_CHANGE_VERSION", "value_milli"],
    )
    return cdf.select(
        "ARCANE_MERGE_KEY",
        "op",
        F.coalesce("old_SYS_CHANGE_VERSION", F.lit(-1)).alias("old_ver"),
        F.coalesce("new_SYS_CHANGE_VERSION", F.lit(-1)).alias("new_ver"),
        F.coalesce("old_value_milli", F.lit(-1)).alias("old_vm"),
        F.coalesce("new_value_milli", F.lit(-1)).alias("new_vm"),
    )


_W5_SQL = f"""
WITH b AS (
  SELECT max(event_id) * 6 // 10 AS t_hi,
         max(event_id) * 3 // 10 AS t_mid
  FROM events
),
src AS (
  SELECT {mssql_merge_key_sql('user_id')} AS k,
         event_id AS ver,
         event_type = 'error' AS del,
         CAST(floor(value * 1000) AS BIGINT) AS value_milli,
         CASE WHEN event_id <= b.t_mid THEN 1 ELSE 2 END AS batch
  FROM events, b WHERE event_id <= b.t_hi
),
ranked AS (
  SELECT *, rank() OVER (PARTITION BY k, batch ORDER BY ver DESC) AS rk
  FROM src
),
b1 AS (SELECT * FROM ranked WHERE batch = 1 AND rk = 1 AND NOT del),
b2 AS (SELECT * FROM ranked WHERE batch = 2 AND rk = 1),
v2 AS (
  SELECT coalesce(b2.k, b1.k) AS k,
         CASE WHEN b2.k IS NOT NULL THEN b2.ver ELSE b1.ver END AS ver,
         CASE WHEN b2.k IS NOT NULL THEN b2.value_milli
              ELSE b1.value_milli END AS value_milli
  FROM b1 FULL JOIN b2 ON b1.k = b2.k
  WHERE CASE WHEN b2.k IS NOT NULL THEN NOT b2.del ELSE NOT b1.del END
)
SELECT coalesce(v2.k, b1.k) AS "ARCANE_MERGE_KEY",
       CASE WHEN b1.k IS NULL THEN 'insert'
            WHEN v2.k IS NULL THEN 'delete'
            WHEN b1.ver IS DISTINCT FROM v2.ver
              OR b1.value_milli IS DISTINCT FROM v2.value_milli
              THEN 'update'
       END AS op,
       coalesce(b1.ver, -1) AS old_ver,
       coalesce(v2.ver, -1) AS new_ver,
       coalesce(b1.value_milli, -1) AS old_vm,
       coalesce(v2.value_milli, -1) AS new_vm
FROM b1 FULL JOIN v2 ON b1.k = v2.k
WHERE CASE WHEN b1.k IS NULL THEN 'insert'
           WHEN v2.k IS NULL THEN 'delete'
           WHEN b1.ver IS DISTINCT FROM v2.ver
             OR b1.value_milli IS DISTINCT FROM v2.value_milli
             THEN 'update'
      END IS NOT NULL
"""


def q_tpch_q4ish(spark, sf_dir):
    """TPC-H Q4-shaped EXISTS: orders counted per priority when at least
    one lineitem exceeds quantity 45 — Spark's LEFT SEMI join (the
    dedicated existence operator: no fan-out, no post-join distinct;
    the probe side short-circuits on first match)."""
    orders = _read(spark, sf_dir, "orders")
    big = _read(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity") > 45
    ).select("l_orderkey")
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


_TPCH_Q4_SQL = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
GROUP BY o_orderpriority
"""


def q_tpch_q22ish(spark, sf_dir):
    """TPC-H Q22-shaped NOT EXISTS: customers with no high-value order
    (>300k), summarized per market segment — Spark's LEFT ANTI join.
    Balances as fixed-point milli sums."""
    cust = _read(spark, sf_dir, "customer")
    highval = _read(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 300000
    ).select("o_custkey")
    return (
        cust.join(highval, cust.c_custkey == highval.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.sum(
                F.floor(F.col("c_acctbal") * 1000).cast("long")
            ).alias("acctbal_milli"),
        )
    )


_TPCH_Q22_SQL = """
SELECT c_mktsegment, count(*) AS n_cust,
       CAST(sum(CAST(floor(c_acctbal * 1000) AS BIGINT)) AS BIGINT)
         AS acctbal_milli
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_totalprice > 300000)
GROUP BY c_mktsegment
"""


def q_sim_ivfpq_topk(spark, sf_dir):
    """The full FAISS composition: IVF coarse cells prune the corpus to
    n_probe/n_centroids, PQ/ADC scores only the surviving candidates
    from 4-byte codes — vectors appear in no search join. Coarse
    assignment mirrors sim_ivf_topk bit-for-bit, so the candidate sets
    are provably IVF's."""
    from arcane_framework_scala_spark.functions.pq import ivfpq_topk

    return ivfpq_topk(
        _read(spark, sf_dir, "embeddings"), _COSINE_QUERY_IDS, k=10,
        codebooks=_pq_codebook(spark, sf_dir),
    )


def q_sim_ivfpq_index_topk(spark, sf_dir):
    """Persisted IVF-PQ (the sim_ivf_index_topk shape for 4-byte codes):
    the code table is written PARTITIONED BY coarse cell, the probe set
    is pushed into the scan as a partition filter, and ADC runs against
    the stored codes — build-once/search-many, search I/O =
    n_probe/n_centroids of an already-~64x-compressed table. Same cells
    + codebooks as sim_ivfpq_topk, so the same oracle must hash-match;
    partition pruning is pinned in tests/test_pq.py."""
    import tempfile
    import uuid

    from arcane_framework_scala_spark.functions.pq import (
        build_ivfpq_index,
        ivfpq_index_topk,
    )

    path = os.path.join(
        tempfile.gettempdir(), f"arcane_ivfpq_{uuid.uuid4().hex}"
    )
    emb = _read(spark, sf_dir, "embeddings")
    build_ivfpq_index(
        emb, path, n_centroids=8, codebooks=_pq_codebook(spark, sf_dir)
    )
    return ivfpq_index_topk(
        spark, path, emb.filter(F.col("vec_id").isin(_COSINE_QUERY_IDS)),
        k=10, n_probe=2,
    )


def q_sim_ivfpq_index_rerank(spark, sf_dir):
    """The complete persisted serving path: ADC shortlist from the
    cell-partitioned code index (partition-pruned probe) + exact cosine
    rerank against ONLY the probed cells of the float-vector IVF index —
    codes propose, floats decide, both reads touch n_probe/n_centroids
    of their tables. Shares centroids with both index builders, so the
    oracle is the IVF-PQ shortlist SQL + exact rerank."""
    import tempfile
    import uuid

    from arcane_framework_scala_spark.functions.pq import (
        build_ivfpq_index,
        ivfpq_index_rerank,
    )

    base = os.path.join(
        tempfile.gettempdir(), f"arcane_ivfpqrr_{uuid.uuid4().hex}"
    )
    emb = _read(spark, sf_dir, "embeddings")
    # the two index builds are independent write jobs — run them
    # concurrently so the vec build back-fills the pq build's task tail
    # (guide §2.6; r11)
    from concurrent.futures import ThreadPoolExecutor

    cb = _pq_codebook(spark, sf_dir)
    with ThreadPoolExecutor(max_workers=2) as pool:
        fpq = pool.submit(
            build_ivfpq_index, emb, base + "/pq", n_centroids=8,
            codebooks=cb,
        )
        fvec = pool.submit(
            sim.build_ivf_index, emb, base + "/vec", n_centroids=8
        )
        fpq.result(), fvec.result()
    return ivfpq_index_rerank(
        spark, base + "/pq", base + "/vec",
        emb.filter(F.col("vec_id").isin(_COSINE_QUERY_IDS)),
        k=10, shortlist=50, n_probe=2,
    )


def q_sim_jl_project(spark, sf_dir):
    """Johnson-Lindenstrauss random projection 64→16 dims (Rademacher ±1
    planes from the repo's deterministic md5 derivation): a zero-shuffle
    codegen projection that compresses every downstream shuffle 4×.
    Fixed-point outputs hash-match the literal-plane oracle; distance
    preservation is pinned in tests/test_projection.py."""
    from arcane_framework_scala_spark.functions.projection import jl_project

    return jl_project(_read(spark, sf_dir, "embeddings"))


def q_a10_regression(spark, sf_dir):
    """Grouped OLS diagnostics: per returnflag, the slope/intercept of
    extendedprice on quantity plus Pearson r — Spark's built-in
    regr_slope/regr_intercept/corr aggregates (single hash aggregation,
    map-side partials; the same definitions DuckDB implements, rounded
    to 6 for float-sum-order tolerance)."""
    li = _read(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("regr_slope(l_extendedprice, l_quantity)"), 6).alias(
            "slope"
        ),
        F.round(
            F.expr("regr_intercept(l_extendedprice, l_quantity)"), 6
        ).alias("icept"),
        F.round(F.expr("corr(l_extendedprice, l_quantity)"), 6).alias("r"),
        F.count(F.lit(1)).alias("n"),
    )


_A10_SQL = """
SELECT l_returnflag,
       round(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
       round(regr_intercept(l_extendedprice, l_quantity), 6) AS icept,
       round(corr(l_extendedprice, l_quantity), 6) AS r,
       count(*) AS n
FROM lineitem GROUP BY l_returnflag
"""


def q_a11_profile(spark, sf_dir):
    """One-pass table profiling (the deequ/df.summary job, made
    oracle-exact): per column n_rows/n_null/n_distinct/min/max in a
    SINGLE aggregation, unpivoted to (column, metric, value) long form.
    Exact count(distinct) costs an Expand at gate scale; approx=True is
    the documented 100 TB path."""
    from arcane_framework_scala_spark.plans.profile import profile_table

    return profile_table(_read(spark, sf_dir, "orders"))


_A11_KINDS = {
    "o_orderkey": "other",
    "o_custkey": "other",
    "o_orderstatus": "other",
    "o_totalprice": "double",
    "o_orderdate": "timestamp",
    "o_orderpriority": "other",
}


def q_corpus_cluster_split(spark, sf_dir):
    """Leakage-proof train/val/test split: the hash key is the near-dup
    CLUSTER representative, so near-duplicate documents can never
    straddle splits (the Lee-et-al test-set-contamination guard a plain
    per-doc hash_split misses). MinHash-LSH pairs → connected
    components → split-by-cluster-key; the within-cluster invariant is
    additionally pinned in tests."""
    docs = _read(spark, sf_dir, "documents")
    pairs = dd.minhash_candidate_pairs(docs)
    clusters = dd.dedup_clusters(pairs)
    return cx.cluster_safe_split(docs, clusters)


def q_graph_pagerank(spark, sf_dir):
    """Link-analysis quality scoring (the Common-Crawl-rank flavor of
    corpus curation): fixed-point damped PageRank, 3 power iterations
    over the near-dup candidate graph — one (edge ⋈ rank) join + one
    destination-keyed aggregation per round, all int64 arithmetic so
    the iterative fit hash-matches the unrolled-CTE oracle."""
    from arcane_framework_scala_spark.functions.graph import (
        pagerank_fixed_point,
    )

    pairs = dd.minhash_candidate_pairs(_read(spark, sf_dir, "documents"))
    return pagerank_fixed_point(pairs, iters=3)


def q_corpus_negatives(spark, sf_dir):
    """Deterministic contrastive negative sampling: 4 md5-derived corpus
    negatives per anchor, excluding the anchor and its whole near-dup
    cluster (a near-duplicate is a FALSE negative). ×12 narrow explode,
    broadcast cluster joins, two anchor-keyed windows — no corpus
    self-join; same pairs on every run and engine."""
    docs = _read(spark, sf_dir, "documents")
    clusters = dd.dedup_clusters(dd.minhash_candidate_pairs(docs))
    return cx.contrastive_negatives(docs, clusters, k=4)


def q_t_stream_static_join(spark, sf_dir):
    """Stream-static dimension enrichment: the events file stream (two
    staged micro-batches) joins the static customer dimension —
    stateless in Structured Streaming (the static side broadcasts per
    micro-batch, no state store) — then a running per-segment aggregate
    in complete mode. Oracle = the batch join + group."""
    import tempfile
    import uuid

    _harden_session(spark)
    ev = _read(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.floor(F.col("value") * 1_000_000).cast("long").alias("vm"),
    )
    stage_dir = os.path.join(
        tempfile.gettempdir(), f"arcane_ssj2_stage_{uuid.uuid4().hex}"
    )
    os.makedirs(stage_dir)
    mtime = 1_000_000_000
    for i in range(2):
        sub = os.path.join(stage_dir, f"b{i}")
        ev.filter(F.col("event_id") % 2 == i).coalesce(1).write.parquet(sub)
        for f in os.listdir(sub):
            if f.endswith(".parquet"):
                dst = os.path.join(stage_dir, f"{i:02d}.parquet")
                os.rename(os.path.join(sub, f), dst)
                os.utime(dst, (mtime + i * 1000, mtime + i * 1000))
    dim = _read(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    stream = (
        spark.readStream.schema("event_id long, user_id long, vm long")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{stage_dir}/*.parquet")
    )
    agg = (
        stream.join(F.broadcast(dim), "user_id")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("vm").alias("value_micro"),
        )
    )
    sink = f"ssj2_sink_{uuid.uuid4().hex}"
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            agg.writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    if q.lastProgress is None or q.lastProgress["batchId"] < 1:
        raise AssertionError("expected 2 streaming micro-batches")
    return spark.table(sink)


_T_STREAM_STATIC_SQL = """
SELECT c.c_mktsegment,
       count(*) AS n_events,
       CAST(sum(CAST(floor(e.value * 1000000) AS BIGINT)) AS BIGINT)
         AS value_micro
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment
"""


def q_corpus_bpe_pack(spark, sf_dir):
    """Tokenizer-true packing capstone: BPE-trained token budgets (the
    corpus_bpe_tokens counts, 5 merges) drive the md5-sharded sequence
    packer — the composition a real pre-training pipeline runs
    (tokenize → lay documents end-to-end → cut seq_len windows), all
    exact-oracle."""
    from arcane_framework_scala_spark.functions.bpe import bpe_token_counts

    counts = bpe_token_counts(
        _read(spark, sf_dir, "documents"), merges=5
    ).withColumn("chunk_id", F.lit(0))
    return cx.pack_sequences_md5(counts, seq_len=64, shards=16)


def q_dedup_minhash_quality(spark, sf_dir):
    """Sketch-accuracy diagnostic: per exact-Jaccard decile over the LSH
    candidates, the MinHash estimate's integer error statistics — the
    num_hashes tuning signal (E[|err|] ≈ 1/√16 = 0.25 here, visible in
    sum_abs_err_ppm/n). All-integer sums so truncating-vs-floor
    division can never diverge between engines."""
    return dd.minhash_estimate_quality(_read(spark, sf_dir, "documents"))


def q_x5_retention_report(spark, sf_dir):
    """Retention dry-run: three CT merges commit snapshots v=1..3; the
    report lists every snapshot's row count and the action a
    keep_last=1 expiry WOULD take — then actually expires and asserts
    only the newest snapshot remains readable (the X2 + time-travel
    interplay as one auditable gate)."""
    import tempfile

    from arcane_framework_scala_spark.sinks.maintenance import (
        expire_snapshots,
    )
    from arcane_framework_scala_spark.sinks.merge_sink import (
        SnapshotParquetTarget,
    )

    _harden_session(spark)
    ev = _read(spark, sf_dir, "events")
    mx = ev.agg(F.max("event_id")).first()[0]
    cuts = [(mx * 2) // 10, (mx * 4) // 10, (mx * 6) // 10]
    batch = ev.filter(F.col("event_id") <= cuts[2]).select(
        mssql_merge_key("user_id").alias("ARCANE_MERGE_KEY"),
        F.col("event_id").alias("SYS_CHANGE_VERSION"),
        F.when(F.col("event_type") == "error", "D").otherwise("U").alias(
            "SYS_CHANGE_OPERATION"
        ),
        "user_id",
        F.floor(F.col("value") * 1000).cast("long").alias("value_milli"),
    )
    run_dir = tempfile.mkdtemp(prefix="arcane_x5_run_")
    target = SnapshotParquetTarget(spark, os.path.join(run_dir, "tgt"))
    lo = None
    for hi in cuts:
        pred = F.col("SYS_CHANGE_VERSION") <= hi
        if lo is not None:
            pred = pred & (F.col("SYS_CHANGE_VERSION") > lo)
        target.merge(batch.filter(pred), SQL_SERVER_CHANGE_TRACKING)
        lo = hi
    versions = target.versions()
    assert versions == [1, 2, 3], versions
    parts = []
    for v in versions:
        action = "keep" if v == versions[-1] else "expire"
        parts.append(
            target.read_version(v).agg(
                F.lit(v).alias("version"),
                F.count(F.lit(1)).alias("n_rows"),
                F.lit(action).alias("action"),
            )
        )
    report = parts[0]
    for p in parts[1:]:
        report = report.unionByName(p)
    report = report.localCheckpoint(eager=True)  # pin before expiry
    expire_snapshots(target, keep_last=1)
    assert target.versions() == [3], target.versions()
    return report


_X5_SQL = f"""
WITH b AS (
  SELECT max(event_id) * 2 // 10 AS t1,
         max(event_id) * 4 // 10 AS t2,
         max(event_id) * 6 // 10 AS t3
  FROM events
),
src AS (
  SELECT {mssql_merge_key_sql('user_id')} AS k,
         event_id AS ver,
         event_type = 'error' AS del,
         CASE WHEN event_id <= b.t1 THEN 1
              WHEN event_id <= b.t2 THEN 2
              ELSE 3 END AS batch
  FROM events, b WHERE event_id <= b.t3
),
ranked AS (
  SELECT *, rank() OVER (PARTITION BY k, batch ORDER BY ver DESC) AS rk
  FROM src
),
b1 AS (SELECT * FROM ranked WHERE batch = 1 AND rk = 1),
b2 AS (SELECT * FROM ranked WHERE batch = 2 AND rk = 1),
b3 AS (SELECT * FROM ranked WHERE batch = 3 AND rk = 1),
s1 AS (SELECT k FROM b1 WHERE NOT del),
s2 AS (
  SELECT coalesce(b2.k, b1.k) AS k
  FROM b1 FULL JOIN b2 ON b1.k = b2.k
  WHERE CASE WHEN b2.k IS NOT NULL THEN NOT b2.del ELSE NOT b1.del END
),
m12 AS (
  SELECT coalesce(b2.k, b1.k) AS k,
         CASE WHEN b2.k IS NOT NULL THEN b2.del ELSE b1.del END AS del
  FROM b1 FULL JOIN b2 ON b1.k = b2.k
),
s3 AS (
  SELECT coalesce(b3.k, m12.k) AS k
  FROM m12 FULL JOIN b3 ON m12.k = b3.k
  WHERE CASE WHEN b3.k IS NOT NULL THEN NOT b3.del ELSE NOT m12.del END
)
SELECT 1 AS version, (SELECT count(*) FROM s1) AS n_rows, 'expire' AS action
UNION ALL
SELECT 2, (SELECT count(*) FROM s2), 'expire'
UNION ALL
SELECT 3, (SELECT count(*) FROM s3), 'keep'
"""


def q_sim_pq_recall(spark, sf_dir):
    """Measured PQ accuracy as a GATE (the sim_ivf_recall methodology
    applied to ADC): per-query recall@10 of the 4-byte-code search vs
    exact brute force, in integer ppm — an index whose recall is
    unmeasured is a guess, not an operator."""
    from arcane_framework_scala_spark.functions.pq import pq_topk

    emb = _read(spark, sf_dir, "embeddings")
    return sim.recall_at_k(
        pq_topk(
            emb, _COSINE_QUERY_IDS, k=10,
            codebooks=_pq_codebook(spark, sf_dir),
        ),
        sim.brute_force_topk(emb, _COSINE_QUERY_IDS, k=10),
        k=10,
    )


def q_dedup_canonical_best(spark, sf_dir):
    """Quality-priority canonicalization: each near-dup cluster keeps
    its HIGHEST-LM-quality member (lowest unigram surprisal, ties →
    lowest id) instead of the arbitrary min-id survivor — keep the
    clean copy, drop the boilerplate one. Score = fixed-point negated
    surprisal so the winner comparison is integer-exact."""
    docs = _read(spark, sf_dir, "documents")
    pairs = dd.minhash_candidate_pairs(docs)
    score = lm_mod.unigram_logprob(docs).select(
        "doc_id",
        F.floor(-F.col("avg_neg_logprob") * 1_000_000)
        .cast("long")
        .alias("score"),
    )
    out = dd.dedup_canonical_best(docs, pairs, score)
    return out.select("doc_id", F.md5("text").alias("digest"), "source")


def q_a12_histogram(spark, sf_dir):
    """Equi-width histogram (the width_bucket reporting shape): 20
    buckets over lineitem extendedprice with broadcast min/max bounds —
    integer bucket arithmetic on micro units, one stats row + one
    aggregation. The generic-numeric complement to the pow2
    corpus_length_histogram."""
    li = _read(spark, sf_dir, "lineitem").select(
        F.floor(F.col("l_extendedprice") * 1_000_000).cast("long").alias("vm")
    )
    stats = li.agg(F.min("vm").alias("lo"), F.max("vm").alias("hi"))
    n = 20
    return (
        li.join(F.broadcast(stats))
        .select(
            F.expr(
                f"least({n - 1}, ((vm - lo) * {n}) div "
                "greatest(hi - lo + 1, 1))"
            ).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


_A12_SQL = """
WITH v AS (
  SELECT CAST(floor(l_extendedprice * 1000000) AS BIGINT) AS vm
  FROM lineitem
),
s AS (SELECT min(vm) AS lo, max(vm) AS hi FROM v)
SELECT least(19, ((vm - lo) * 20) // greatest(hi - lo + 1, 1)) AS bucket,
       count(*) AS n_rows
FROM v, s
GROUP BY bucket
"""


def q_t_nearest_join(spark, sf_dir):
    """Nearest-match temporal join (pandas merge_asof
    direction='nearest'): every view paired with its temporally closest
    purchase per user within ±1 h — two as-of passes (backward, and
    forward via negated timestamps) over the union-and-window machinery
    plus a codegen picker; never a range theta-join. Ties go to the
    earlier purchase."""
    from arcane_framework_scala_spark.operators.temporal_join import (
        nearest_join,
    )

    ev = _read(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type",
        F.expr("ts div 1000000000").alias("sec"),
    )

    def side(t):
        return (
            ev.filter(F.col("event_type") == t)
            .groupBy("user_id", "sec")
            .agg(F.min("event_id").alias("event_id"))
        )

    left = side("view")
    right = side("purchase").withColumnRenamed("event_id", "p_id")
    out = nearest_join(
        left, right, key_col="user_id", ts_col="sec",
        right_value_cols=["p_id"], tolerance=3600,
    )
    return out.select(
        "user_id", "sec", "event_id",
        F.coalesce("p_id_near", F.lit(-1)).alias("p_id_near"),
        F.coalesce("__near_gap", F.lit(0)).alias("near_gap"),
    )


def _t_nearest_sql() -> str:
    from arcane_framework_scala_spark.operators.temporal_join import (
        nearest_join_sql,
    )

    def side(t, idc):
        return (
            f"SELECT user_id, epoch_ns(ts) // 1000000000 AS sec, "
            f"min(event_id) AS {idc} FROM events "
            f"WHERE event_type = '{t}' GROUP BY user_id, sec"
        )

    inner = nearest_join_sql(
        side("view", "event_id"),
        side("purchase", "p_id"),
        key_col="user_id",
        ts_col="sec",
        right_value_cols=["p_id"],
        tolerance=3600,
    )
    return (
        "SELECT user_id, sec, event_id, "
        "coalesce(p_id_near, -1) AS p_id_near, "
        "coalesce(__near_gap, 0) AS near_gap FROM (" + inner + ")"
    )


def q_p12_zorder_layout_report(spark, sf_dir):
    """Layout effectiveness report: lineitem assigned to 8 z-ordered
    'files' (equi-width cuts of the interleaved key, broadcast bounds —
    deterministic, unlike sampled range partitioning) and each file's
    min/max span of BOTH key columns reported. This is the min/max
    pruning statistic a ZORDER rewrite buys: every file covers a tight
    rectangle in (orderkey × partkey), where a single-column sort
    leaves the other column's span at ~full range (the p11 key made
    executable as a layout audit)."""
    from arcane_framework_scala_spark.functions.layout import zorder_key

    li = _read(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    z = zorder_key(li, ["l_orderkey", "l_partkey"], bits=8)
    stats = z.agg(F.min("zkey").alias("lo"), F.max("zkey").alias("hi"))
    return (
        z.join(F.broadcast(stats))
        .select(
            "l_orderkey",
            "l_partkey",
            F.expr(
                "least(7, ((zkey - lo) * 8) div greatest(hi - lo + 1, 1))"
            ).alias("file_id"),
        )
        .groupBy("file_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("l_orderkey").alias("ok_min"),
            F.max("l_orderkey").alias("ok_max"),
            F.min("l_partkey").alias("pk_min"),
            F.max("l_partkey").alias("pk_max"),
        )
    )


def _p12_sql() -> str:
    zk = layout_mod.zorder_key_sql(
        "lineitem", ["l_orderkey", "l_partkey"], bits=8,
        select_cols=["l_orderkey", "l_partkey"],
    )
    return f"""
WITH z AS ({zk}),
s AS (SELECT min(zkey) AS lo, max(zkey) AS hi FROM z)
SELECT least(7, ((zkey - lo) * 8) // greatest(hi - lo + 1, 1)) AS file_id,
       count(*) AS n_rows,
       min(l_orderkey) AS ok_min, max(l_orderkey) AS ok_max,
       min(l_partkey) AS pk_min, max(l_partkey) AS pk_max
FROM z, s
GROUP BY file_id
""".strip()


def q_mm_scene_cuts(spark, sf_dir):
    """Frame features → temporal segmentation: sampled frame digests
    yield a deterministic per-frame 'brightness' (leading digest byte);
    a scene cut is a jump of more than 64 levels; scenes are the
    gaps-and-islands cumulative sum. Everything after the Arrow
    mapInPandas frame sampler is relational window algebra — the
    Spark-side shape of shot-boundary detection, with the decode
    stubbed exactly like the rest of the mm family."""
    from arcane_framework_scala_spark.multimodal import frame_sample

    frames = frame_sample(
        _media_docs(spark, sf_dir), every_n_bytes=1024, max_frames=8,
        id_col="doc_id",
    )
    bright = F.conv(F.substring("frame_digest", 1, 2), 16, 10).cast("int")
    w = Window.partitionBy("doc_id").orderBy("frame_index")
    cum = w.rowsBetween(Window.unboundedPreceding, 0)
    scened = (
        frames.withColumn("b", bright)
        .withColumn("pb", F.lag("b").over(w))
        .withColumn(
            "cut",
            (F.col("pb").isNull() | (F.abs(F.col("b") - F.col("pb")) > 64))
            .cast("int"),
        )
        .withColumn("scene_id", F.sum("cut").over(cum))
    )
    per_scene = scened.groupBy("doc_id", "scene_id").agg(
        F.count(F.lit(1)).alias("sc_len")
    )
    return per_scene.groupBy("doc_id").agg(
        F.sum("sc_len").alias("n_frames"),
        F.max("scene_id").alias("n_scenes"),
        F.max("sc_len").alias("longest_scene"),
    )


_MM_SCENE_SQL = """
WITH f AS (
  SELECT doc_id, text,
         unnest(range(least(8, greatest(octet_length(encode(text)) // 1024, 1))))
             AS fi
  FROM documents
),
fr AS (
  SELECT doc_id, CAST(fi AS INT) AS frame_index,
         CAST(concat('0x',
              substr(md5(substr(text, CAST(fi * 1024 + 1 AS BIGINT), 16)),
                     1, 2)) AS INT) AS b
  FROM f
),
cuts AS (
  SELECT doc_id, frame_index, b,
         CASE WHEN lag(b) OVER w IS NULL
                OR abs(b - lag(b) OVER w) > 64 THEN 1 ELSE 0 END AS cut
  FROM fr
  WINDOW w AS (PARTITION BY doc_id ORDER BY frame_index)
),
scened AS (
  SELECT doc_id,
         sum(cut) OVER (PARTITION BY doc_id ORDER BY frame_index
                        ROWS UNBOUNDED PRECEDING) AS scene_id
  FROM cuts
),
per_scene AS (
  SELECT doc_id, scene_id, count(*) AS sc_len
  FROM scened GROUP BY doc_id, scene_id
)
SELECT doc_id,
       CAST(sum(sc_len) AS BIGINT) AS n_frames,
       CAST(max(scene_id) AS BIGINT) AS n_scenes,
       max(sc_len) AS longest_scene
FROM per_scene GROUP BY doc_id
"""


def q_t_incremental_agg(spark, sf_dir):
    """Incremental view maintenance: a per-user (count, sum) aggregate
    over snapshot v=1 is advanced to the v=2 state by applying ONLY the
    change feed's deltas (insert → +new, delete → −old, update →
    −old+new) — never rescanning the table. The oracle computes the
    aggregate directly from the merged v=2 state, so the hash proves
    delta-apply ≡ recompute. At 100 TB this is the difference between
    touching the batch and touching the table (the continuous-aggregate
    idea of t_rollup_cascade driven by CDC instead of time)."""
    import tempfile

    from arcane_framework_scala_spark.operators.diff import snapshot_diff
    from arcane_framework_scala_spark.sinks.merge_sink import (
        SnapshotParquetTarget,
    )

    _harden_session(spark)
    ev = _read(spark, sf_dir, "events")
    mx = ev.agg(F.max("event_id")).first()[0]
    t_hi, t_mid = (mx * 6) // 10, (mx * 3) // 10
    batch = ev.filter(F.col("event_id") <= t_hi).select(
        mssql_merge_key("user_id").alias("ARCANE_MERGE_KEY"),
        F.col("event_id").alias("SYS_CHANGE_VERSION"),
        F.when(F.col("event_type") == "error", "D").otherwise("U").alias(
            "SYS_CHANGE_OPERATION"
        ),
        "user_id",
        F.floor(F.col("value") * 1000).cast("long").alias("value_milli"),
    )
    run_dir = tempfile.mkdtemp(prefix="arcane_ivm_run_")
    target = SnapshotParquetTarget(spark, os.path.join(run_dir, "tgt"))
    target.merge(
        batch.filter(F.col("SYS_CHANGE_VERSION") <= t_mid),
        SQL_SERVER_CHANGE_TRACKING,
    )
    target.merge(
        batch.filter(F.col("SYS_CHANGE_VERSION") > t_mid),
        SQL_SERVER_CHANGE_TRACKING,
    )
    v1 = target.read_version(1)
    base = v1.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value_milli").alias("vm"),
    )
    cdf = snapshot_diff(
        v1,
        target.read_version(2),
        keys=["ARCANE_MERGE_KEY"],
        compare_cols=["user_id", "value_milli"],
    )
    deltas = (
        cdf.select(
            F.coalesce("new_user_id", "old_user_id").alias("user_id"),
            F.when(F.col("op") == "insert", F.lit(1))
            .when(F.col("op") == "delete", F.lit(-1))
            .otherwise(F.lit(0))
            .alias("dn"),
            (
                F.coalesce("new_value_milli", F.lit(0))
                - F.coalesce("old_value_milli", F.lit(0))
            ).alias("dvm"),
        )
        .groupBy("user_id")
        .agg(F.sum("dn").alias("dn"), F.sum("dvm").alias("dvm"))
    )
    updated = (
        base.join(deltas, "user_id", "full_outer")
        .select(
            "user_id",
            (F.coalesce("n", F.lit(0)) + F.coalesce("dn", F.lit(0))).alias(
                "n"
            ),
            (F.coalesce("vm", F.lit(0)) + F.coalesce("dvm", F.lit(0))).alias(
                "vm"
            ),
        )
        .filter(F.col("n") > 0)
    )
    return updated


_T_IVM_SQL = f"""
WITH b AS (
  SELECT max(event_id) * 6 // 10 AS t_hi,
         max(event_id) * 3 // 10 AS t_mid
  FROM events
),
src AS (
  SELECT {mssql_merge_key_sql('user_id')} AS k,
         event_id AS ver,
         event_type = 'error' AS del,
         user_id,
         CAST(floor(value * 1000) AS BIGINT) AS value_milli,
         CASE WHEN event_id <= b.t_mid THEN 1 ELSE 2 END AS batch
  FROM events, b WHERE event_id <= b.t_hi
),
ranked AS (
  SELECT *, rank() OVER (PARTITION BY k, batch ORDER BY ver DESC) AS rk
  FROM src
),
b1 AS (SELECT * FROM ranked WHERE batch = 1 AND rk = 1),
b2 AS (SELECT * FROM ranked WHERE batch = 2 AND rk = 1),
v2 AS (
  SELECT coalesce(b2.k, b1.k) AS k,
         CASE WHEN b2.k IS NOT NULL THEN b2.user_id ELSE b1.user_id END
           AS user_id,
         CASE WHEN b2.k IS NOT NULL THEN b2.value_milli
              ELSE b1.value_milli END AS value_milli
  FROM b1 FULL JOIN b2 ON b1.k = b2.k
  WHERE CASE WHEN b2.k IS NOT NULL THEN NOT b2.del ELSE NOT b1.del END
)
SELECT user_id, count(*) AS n,
       CAST(sum(value_milli) AS BIGINT) AS vm
FROM v2 GROUP BY user_id
"""


def q_sim_text_topk(spark, sf_dir):
    """Model-free document retrieval: cosine over hashing-trick
    features (HashingVectorizer + cosine, no embedding model). The
    query side's sparse buckets broadcast; similarity arithmetic is
    all-integer with a cos-squared-ppm rank key. The lexical complement
    to sim_cosine_topk's dense-embedding search."""
    return lm_mod.text_topk(
        _read(spark, sf_dir, "documents"), _TEXT_QUERY_IDS, k=10
    )


_TEXT_QUERY_IDS = [3, 17, 48, 77, 102]


def q_sim_bm25_rerank(spark, sf_dir):
    """Okapi BM25 over MinHash-LSH candidates — the canonical lexical
    ranking function (Robertson & Zaragoza 2009) joining tfidf_rerank
    and rrf in the retrieval family. Every per-term contribution floors
    to integer micros BEFORE the sum, so the aggregation is order-free
    and the iterative-free float math hash-matches the oracle."""
    from arcane_framework_scala_spark.functions.tfidf import bm25_rerank

    docs = _read(spark, sf_dir, "documents")
    return bm25_rerank(docs, dd.minhash_candidate_pairs(docs))


def _bm25_rerank_sql() -> str:
    from arcane_framework_scala_spark.functions.tfidf import bm25_rerank_sql

    return bm25_rerank_sql(
        "documents", dd.minhash_candidate_pairs_sql("documents")
    )


def q_a13_winsorize(spark, sf_dir):
    """Robust-stats capping: per event_type, values clamped to the
    exact interpolated [p05, p95] (one quantile pass broadcast back
    onto the stream — two aggregations total). Capped counts + the
    fixed-point sum of the clamped column; at 100 TB the quantile pass
    swaps to approx_percentile with the clamp unchanged."""
    return stats_mod.winsorize(
        _read(spark, sf_dir, "events"), "event_type", "value"
    )


def q_t_ewma_pow2(spark, sf_dir):
    """Exponentially weighted moving value with α = 1/2 as PURE integer
    arithmetic: ewma_t = Σ_{i≤t} vm_i div 2^(t-i) over the last 8
    events per user — the decay a monitoring pipeline smooths with,
    made engine-exact via power-of-two integer division instead of
    float pow (8 explicit lags, one user-keyed sort window)."""
    ev = _read(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.expr("ts div 1000000000").alias("sec"),
        F.floor(F.col("value") * 1_000_000).cast("long").alias("vm"),
    )
    w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    terms = [F.coalesce(F.col("vm"), F.lit(0))]
    lagged = []
    for i in range(1, 8):
        c = F.coalesce(F.lag("vm", i).over(w), F.lit(0))
        lagged.append(c.alias(f"l{i}"))
    out = ev.select("event_id", "user_id", "sec", "vm", *lagged)
    ew = F.col("vm")
    for i in range(1, 8):
        ew = ew + F.expr(f"l{i} div {2 ** i}")
    return out.select(
        "event_id", "user_id", ew.alias("ewma_micro")
    )


_T_EWMA_SQL = """
WITH e AS (
  SELECT event_id, user_id,
         epoch_ns(ts) // 1000000000 AS sec,
         CAST(floor(value * 1000000) AS BIGINT) AS vm
  FROM events
),
l AS (
  SELECT event_id, user_id, vm,
         {lags}
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)
)
SELECT event_id, user_id,
       vm {terms} AS ewma_micro
FROM l
""".format(
    lags=",\n         ".join(
        f"coalesce(lag(vm, {i}) OVER w, 0) AS l{i}" for i in range(1, 8)
    ),
    terms=" ".join(f"+ l{i} // {2 ** i}" for i in range(1, 8)),
)


def q_s15_partitioned_roundtrip(spark, sf_dir):
    """Layout breadth: events written partitionBy(event_type) to a
    temp table, read back filtered to one type — the gate asserts the
    physical plan prunes to the matching partition DIRECTORY
    (PartitionFilters, zero data files from other types touched), the
    directory-level half of what p10 (bucketing) and p12 (z-order)
    prove for file-level layout. Output = the pruned slice's per-day
    fixed-point aggregate; oracle filters the raw table."""
    import tempfile
    import uuid

    _harden_session(spark)
    out_dir = os.path.join(
        tempfile.gettempdir(), f"arcane_s15_{uuid.uuid4().hex}"
    )
    ev = _read(spark, sf_dir, "events").select(
        "event_id", "event_type",
        F.expr("ts div 1000000000 div 86400").alias("day"),
        F.floor(F.col("value") * 1_000_000).cast("long").alias("vm"),
    )
    ev.write.partitionBy("event_type").parquet(out_dir)
    back = spark.read.parquet(out_dir).filter(
        F.col("event_type") == "view"
    )
    plan = back._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    if "PartitionFilters: [" not in plan or "event_type" not in plan.split(
        "PartitionFilters: ["
    )[1].split("]")[0]:
        raise AssertionError(f"partition pruning missing:\n{plan}")
    return back.groupBy("day").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("vm").alias("value_micro"),
    )


_S15_SQL = """
SELECT epoch_ns(ts) // 1000000000 // 86400 AS day,
       count(*) AS n,
       CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT)
         AS value_micro
FROM events WHERE event_type = 'view'
GROUP BY day
"""


def q_sim_cluster_quality(spark, sf_dir):
    """Cluster-quality diagnostics for the trained k-means codebook —
    the silhouette-lite report an embedding-clustering job ships: per
    centroid, member count and mean cosine cohesion (each member's
    similarity to its centroid floored to micro BEFORE the mean, so
    the aggregation is an order-free integer sum / count). Assignment
    mirrors sim_ivf_topk's rounding conventions."""
    from arcane_framework_scala_spark.functions.kmeans import kmeans_fit
    from arcane_framework_scala_spark.functions.similarity import (
        cosine_similarity,
    )

    emb = _read(spark, sf_dir, "embeddings")
    cent = kmeans_fit(emb, k=8, iters=3).select(
        "centroid_id", F.col("embedding").alias("__cvec")
    )
    sims = emb.join(F.broadcast(cent)).select(
        "vec_id",
        "centroid_id",
        F.round(
            cosine_similarity(F.col("embedding"), F.col("__cvec")), 6
        ).alias("csim"),
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.desc("csim"), F.asc("centroid_id")
    )
    assigned = (
        sims.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "centroid_id",
            F.floor(F.col("csim") * 1_000_000).cast("long").alias("cm"),
        )
    )
    return assigned.groupBy("centroid_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.expr("sum(cm) div count(1)").alias("mean_cohesion_micro"),
        F.min("cm").alias("min_cohesion_micro"),
    )


def _sim_cluster_quality_sql() -> str:
    cb = km.kmeans_codebook_sql("embeddings", k=8, iters=3)
    csim = sim.cosine_similarity_sql("e.embedding", "c.embedding")
    return f"""
WITH cent AS ({cb}),
sims AS (
  SELECT e.vec_id, c.centroid_id, round({csim}, 6) AS csim
  FROM embeddings e JOIN cent c ON true
),
assigned AS (
  SELECT centroid_id,
         CAST(floor(csim * 1000000) AS BIGINT) AS cm
  FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY csim DESC, centroid_id) AS rk
    FROM sims
  ) WHERE rk = 1
)
SELECT centroid_id, count(*) AS n_members,
       CAST(sum(cm) AS BIGINT) // count(*) AS mean_cohesion_micro,
       min(cm) AS min_cohesion_micro
FROM assigned GROUP BY centroid_id
"""


def q_dedup_bloom_fpr(spark, sf_dir):
    """Measured Bloom accuracy (the sketch-quality sibling of
    dedup_minhash_quality): corpus grams tested against the Bloom
    filter AND against the exact benchmark gram set — one row of
    (grams tested, Bloom-flagged, true hits, false positives). The
    deterministic construction makes even the FP count exact and
    hash-checkable; at m=2^20/k=3 the measured FPR validates the
    (k·g/m)^k design estimate."""
    from arcane_framework_scala_spark.functions.bloom import (
        _distinct_grams,
        _pos,
        bloom_bits,
    )

    docs = _read(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    m, k = 1 << 20, 3
    bits = bloom_bits(bench, n=8, m=m, k=k).localCheckpoint(eager=False)
    probed = _distinct_grams(corpus, "doc_id", "text", 8, "id")
    for i in range(k):
        b = bits.select(
            F.col("pos").alias(f"pos{i}"), F.lit(1).alias(f"hit{i}")
        )
        probed = probed.withColumn(f"pos{i}", _pos(F.col("g"), i, m)).join(
            F.broadcast(b), f"pos{i}", "left"
        )
    flagged = (
        F.col("hit0").isNotNull()
        & F.col("hit1").isNotNull()
        & F.col("hit2").isNotNull()
    )
    bg = _distinct_grams(bench, "doc_id", "text", 8, "bid").select(
        "g"
    ).distinct().withColumn("truth", F.lit(1))
    joined = probed.join(bg, "g", "left")
    return joined.agg(
        F.count(F.lit(1)).alias("n_tested"),
        F.sum(flagged.cast("long")).alias("n_flagged"),
        F.sum(F.col("truth").isNotNull().cast("long")).alias("n_true"),
        F.sum(
            (flagged & F.col("truth").isNull()).cast("long")
        ).alias("n_false_pos"),
    )


def _bloom_fpr_sql() -> str:
    m, k = 1 << 20, 3
    grams = """
  SELECT DISTINCT doc_id AS id, array_to_string(w[i:i+7], ' ') AS g
  FROM (SELECT doc_id, string_split(text, ' ') AS w
        FROM documents WHERE {pred})
  CROSS JOIN LATERAL (SELECT unnest(range(1, len(w) - 8 + 2)) AS i) AS u(i)
"""

    def pos(salt):
        return (
            f"CAST(concat('0x', substr(md5(g || '#{salt}'), 1, 15)) "
            f"AS BIGINT) % {m}"
        )

    salted = " UNION ".join(f"SELECT {pos(i)} AS pos FROM bg" for i in range(k))
    joins = "\n".join(
        f"  LEFT JOIN bits b{i} ON {pos(i)} = b{i}.pos" for i in range(k)
    )
    flag = " AND ".join(f"b{i}.pos IS NOT NULL" for i in range(k))
    return f"""
WITH bg AS ({grams.format(pred="doc_id % 10 = 0")}),
bits AS ({salted}),
bset AS (SELECT DISTINCT g FROM bg),
cg AS ({grams.format(pred="doc_id % 10 != 0")}),
per AS (
  SELECT cg.id, cg.g,
         CASE WHEN {flag} THEN 1 ELSE 0 END AS flagged,
         CASE WHEN bset.g IS NOT NULL THEN 1 ELSE 0 END AS truth
  FROM cg
{joins}
  LEFT JOIN bset ON bset.g = cg.g
)
SELECT count(*) AS n_tested,
       CAST(sum(flagged) AS BIGINT) AS n_flagged,
       CAST(sum(truth) AS BIGINT) AS n_true,
       CAST(sum(CASE WHEN flagged = 1 AND truth = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_false_pos
FROM per
"""


def q_corpus_shard_manifest(spark, sf_dir):
    """Reproducible export manifest — the artifact a training run
    records next to its shards: per shard, document count, total
    whitespace tokens, byte estimate, and a SHARD CHECKSUM (md5 over
    the position-ordered member digests, computed via array_sort so
    the value is partitioning-independent). Re-running the export and
    comparing manifests detects silent data drift bit-for-bit."""
    docs = _read(spark, sf_dir, "documents")
    shards = cx.shuffle_shards(docs, num_shards=8, seed=7)
    enriched = shards.join(
        docs.select(
            "doc_id",
            F.md5("text").alias("digest"),
            F.size(F.split("text", " ")).cast("long").alias("n_tok"),
            F.length("text").cast("long").alias("n_bytes"),
        ),
        "doc_id",
    )
    return (
        enriched.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.sum("n_bytes").alias("n_bytes"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("pos", "digest"))
                        ),
                        lambda x: x["digest"],
                    ),
                    "",
                )
            ).alias("shard_digest"),
        )
    )


def _corpus_shard_manifest_sql() -> str:
    inner = cx.shuffle_shards_sql(num_shards=8, seed=7)
    return f"""
WITH s AS ({inner}),
e AS (
  SELECT s.shard, s.pos, d.doc_id, md5(d.text) AS digest,
         CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tok,
         CAST(length(d.text) AS BIGINT) AS n_bytes
  FROM s JOIN documents d USING (doc_id)
)
SELECT shard, count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       CAST(sum(n_bytes) AS BIGINT) AS n_bytes,
       md5(string_agg(digest, '' ORDER BY pos)) AS shard_digest
FROM e GROUP BY shard
"""


def q_a14_freshness(spark, sf_dir):
    """Per-source freshness report (the T12 watermark-age idea as a
    table-level audit): each event type's newest event and its lag
    behind the globally newest — the staleness dashboard a CDC
    operator reads first. One aggregation + a broadcast max row."""
    ev = _read(spark, sf_dir, "events").select(
        "event_type", F.expr("ts div 1000000000").alias("sec")
    )
    per = ev.groupBy("event_type").agg(F.max("sec").alias("last_sec"))
    g = per.agg(F.max("last_sec").alias("g"))
    return per.join(F.broadcast(g)).select(
        "event_type",
        "last_sec",
        (F.col("g") - F.col("last_sec")).alias("lag_s"),
    )


_A14_SQL = """
WITH per AS (
  SELECT event_type, max(epoch_ns(ts) // 1000000000) AS last_sec
  FROM events GROUP BY event_type
)
SELECT event_type, last_sec,
       (SELECT max(last_sec) FROM per) - last_sec AS lag_s
FROM per
"""


def q_t_dwell_time(spark, sf_dir):
    """Per-user engagement totals over sessionized events: sessions
    (30-min gap), total dwell seconds (Σ session_end − session_start),
    and the longest session — the product-analytics rollup one keyed
    aggregation above t_sessionize (the session groupBy reuses the
    same user-keyed exchange)."""
    sess = sessionize(_read(spark, sf_dir, "events"), gap_seconds=1800)
    return sess.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum(
            F.col("session_end") - F.col("session_start")
        ).alias("dwell_s"),
        F.max(
            F.col("session_end") - F.col("session_start")
        ).alias("longest_s"),
    )


def _t_dwell_sql() -> str:
    return f"""
WITH s AS ({sessionize_sql("events", gap_seconds=1800)})
SELECT user_id, count(*) AS n_sessions,
       CAST(sum(session_end - session_start) AS BIGINT) AS dwell_s,
       CAST(max(session_end - session_start) AS BIGINT) AS longest_s
FROM s GROUP BY user_id
"""


def q_corpus_novelty(spark, sf_dir):
    """Dataset redundancy curve: per document (in id order), how many
    of its distinct 8-grams are NOVEL — first seen at this doc (gram's
    min doc_id == this doc). Falling novelty across a crawl is the
    canonical sign of saturating a source. One gram-keyed min
    aggregation joined back — the span-dedup shuffle class."""
    from arcane_framework_scala_spark.functions.corpus import (
        _distinct_grams,
    )

    g = _distinct_grams(_read(spark, sf_dir, "documents"),
                        "doc_id", "text", 8, "id")
    firsts = g.groupBy("g").agg(F.min("id").alias("first_id"))
    return (
        g.join(firsts, "g")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                (F.col("id") == F.col("first_id")).cast("long")
            ).alias("n_novel"),
        )
        .withColumnRenamed("id", "doc_id")
    )


_CORPUS_NOVELTY_SQL = """
WITH g AS (
  SELECT DISTINCT doc_id AS id, array_to_string(w[i:i+7], ' ') AS g
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
  CROSS JOIN LATERAL (SELECT unnest(range(1, len(w) - 8 + 2)) AS i) AS u(i)
),
firsts AS (SELECT g, min(id) AS first_id FROM g GROUP BY g)
SELECT id AS doc_id, count(*) AS n_grams,
       CAST(sum(CASE WHEN id = first_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel
FROM g JOIN firsts USING (g)
GROUP BY id
"""


def q_a16_category_drift(spark, sf_dir):
    """Day-over-day categorical drift: per-day Jensen-Shannon divergence
    (int64 micro, per-category terms floored then integer-summed — the
    DSIR accumulation rule) between consecutive days' event-type
    distributions. The pipeline-monitoring primitive for a CDC-fed
    corpus: an upstream traffic or schema shift spikes JSD immediately.
    Aggregation tables are days×categories rows — metadata-scale; the
    event scan is touched once, map-side combined. Integer epoch-day
    keys (the a15 convention) — no date types, no timezone surface."""
    return stats_mod.categorical_drift(
        _read(spark, sf_dir, "events"),
        day_col=F.expr("ts div 1000000000 div 86400"),
        cat_col="event_type",
    )


def q_a17_hll_distinct(spark, sf_dir):
    """Mergeable engine-exact HyperLogLog (functions/sketch.py): the
    100 TB distinct-count tool — per-shard register tables merging by
    max, no count-distinct shuffle of raw values. This vertical proves
    all three contracts at once: (1) per-lang token sketches hash-match
    the DuckDB twin register-for-register AND estimate-for-estimate
    (the estimator's float chain and the linear-counting literal table
    are engine-exact by construction); (2) the shard-merge law — the
    per-lang sketches merged by max equal the direct global sketch
    (in-gate exceptAll assert, both directions); (3) measured accuracy
    — every scope row carries the exact distinct count next to the
    estimate, so the gate hash pins the sketch error itself. Scopes
    exercise BOTH estimator ranges: per-lang/ALL_TOKENS land in the
    linear-counting range, ALL_EVENTS (distinct event_id) in the raw
    harmonic-mean range."""
    from arcane_framework_scala_spark.functions import sketch as sk

    docs = _read(spark, sf_dir, "documents")
    toks = docs.select(
        "lang",
        F.explode(
            F.split(F.trim(F.lower(F.col("text"))), r"\s+")
        ).alias("tok"),
    )
    # HLL registers are duplicate-insensitive (groupBy-max of hashes),
    # and every exact column here is a COUNT DISTINCT — so the whole
    # gate derives from ONE tokenize+dedup pass over the corpus instead
    # of re-running the explode scan per consumer (5 passes before r11).
    # The checkpoint holds |distinct (lang, tok)| rows, far smaller than
    # the raw token stream.
    pairs = toks.distinct().localCheckpoint(eager=False)
    per_lang_regs = sk.hll_sketch(pairs, "tok", ["lang"]).localCheckpoint(
        eager=False
    )
    exact_lang = pairs.groupBy("lang").agg(
        F.count("tok").alias("exact_n")
    )
    part_lang = (
        sk.hll_estimate(per_lang_regs, ["lang"])
        .join(exact_lang, "lang")
        .select(
            F.col("lang").alias("scope"), "n_registers", "est_micro",
            "exact_n",
        )
    )
    merged = sk.hll_merge(per_lang_regs.select("idx", "r"))
    # same registers as a sketch of the raw stream: duplicates across
    # langs do not move a max-register
    direct = sk.hll_sketch(pairs, "tok").localCheckpoint(eager=False)
    if merged.exceptAll(direct).unionAll(direct.exceptAll(merged)).count():
        raise AssertionError("HLL shard merge != direct global sketch")
    part_all = (
        sk.hll_estimate(merged)
        .crossJoin(
            pairs.agg(F.countDistinct("tok").alias("exact_n"))
        )
        .select(
            F.lit("ALL_TOKENS").alias("scope"), "n_registers", "est_micro",
            "exact_n",
        )
    )
    ev = _read(spark, sf_dir, "events").select(F.col("event_id").alias("x"))
    part_ev = (
        sk.hll_distinct(ev, "x")
        .crossJoin(ev.agg(F.countDistinct("x").alias("exact_n")))
        .select(
            F.lit("ALL_EVENTS").alias("scope"), "n_registers", "est_micro",
            "exact_n",
        )
    )
    return part_lang.unionByName(part_all).unionByName(part_ev)


def _a17_hll_sql() -> str:
    from arcane_framework_scala_spark.functions import sketch as sk

    tokd = (
        "SELECT lang, unnest(regexp_split_to_array(trim(lower(text)), "
        "'\\s+')) AS tok FROM documents"
    )
    lang_est = sk.hll_distinct_sql("tokd", "tok", ["lang"])
    all_est = sk.hll_distinct_sql("tokd", "tok")
    ev_est = sk.hll_distinct_sql("(SELECT event_id AS x FROM events)", "x")
    return f"""
WITH tokd AS ({tokd})
SELECT l.lang AS scope, e.n_registers, e.est_micro, l.exact_n
FROM (SELECT lang, count(DISTINCT tok) AS exact_n FROM tokd GROUP BY lang) l
JOIN ({lang_est}) e USING (lang)
UNION ALL
SELECT 'ALL_TOKENS', e.n_registers, e.est_micro,
       (SELECT count(DISTINCT tok) FROM tokd)
FROM ({all_est}) e
UNION ALL
SELECT 'ALL_EVENTS', e.n_registers, e.est_micro,
       (SELECT count(DISTINCT event_id) FROM events)
FROM ({ev_est}) e
"""


def q_a18_cms_heavy_hitters(spark, sf_dir):
    """Count-Min heavy hitters (functions/sketch.py): the frequency
    sibling of a17's HLL — d×w integer counters that merge by SUM, so
    1000 executors sketch independently and "who are the hottest
    users/keys" never needs a full-width shuffle of raw values. The
    gate builds the sketch over event user_ids, point-estimates every
    distinct user, asserts the hard CMS guarantee in-gate (est ≥ true
    for EVERY key — a single underestimate fails the gate), and
    returns the top-40 heavy hitters with the exact count next to the
    estimate so the hash pins the sketch's measured error. All integer
    arithmetic — byte-identical to the DuckDB twin."""
    from arcane_framework_scala_spark.functions import sketch as sk

    ev = _read(spark, sf_dir, "events").select("user_id")
    cms = sk.cms_sketch(ev, "user_id").localCheckpoint(eager=False)
    est = sk.cms_lookup(cms, ev.distinct(), "user_id")
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_n"))
    j = est.join(exact, "user_id")
    if j.filter(F.col("est_n") < F.col("exact_n")).count() > 0:
        raise AssertionError("CMS underestimated a key (contract breach)")
    w = Window.orderBy(F.desc("est_n"), F.asc("user_id"))
    return (
        j.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 40)
        .select("user_id", "est_n", "exact_n", "rk")
    )


def _a18_cms_sql() -> str:
    from arcane_framework_scala_spark.functions import sketch as sk

    est = sk.cms_lookup_sql(
        sk.cms_sketch_sql("ev", "user_id"),
        "SELECT DISTINCT user_id FROM ev",
        "user_id",
    )
    return f"""
WITH ev AS (SELECT user_id FROM events)
SELECT user_id, est_n, exact_n, CAST(rk AS INT) AS rk
FROM (
  SELECT e.user_id, e.est_n, x.exact_n,
         row_number() OVER (ORDER BY e.est_n DESC, e.user_id) AS rk
  FROM ({est}) e
  JOIN (SELECT user_id, count(*) AS exact_n FROM ev GROUP BY user_id) x
    USING (user_id)
)
WHERE rk <= 40
"""


def q_a19_kmv_overlap(spark, sf_dir):
    """KMV/theta sketch vertical (functions/sketch.py): distinct counts
    WITH set intersection — the split-leakage estimator a17's HLL
    cannot express (HLL unions but never intersects). Char-5-shingle
    vocabularies of two document sources are sketched independently
    (k=512 smallest distinct hashes — the sketches a 1000-executor
    fleet would ship to a coordinator), then the sketch-only
    intersection estimates their overlap without ever joining the raw
    corpora. Every row carries the exact count beside the estimate so
    the gate hash pins the measured error; small-set exactness,
    merge associativity and engine parity are unit-pinned in
    tests/test_sketch.py."""
    from arcane_framework_scala_spark.functions import sketch as sk
    from arcane_framework_scala_spark.functions.dedup import char_shingles

    docs = _read(spark, sf_dir, "documents")
    # KMV sketches are duplicate-insensitive (k smallest DISTINCT hashes)
    # and every exact column is a COUNT DISTINCT — so the whole gate
    # derives from ONE shingle+dedup pass over the two sources instead
    # of re-running the char-5 explode per consumer (5 passes before
    # r11; the same restructure a17 took). The checkpoint holds
    # |distinct (source, shingle)| rows, far smaller than the raw
    # shingle stream; the source filter is applied BEFORE the explode
    # so only the two compared sources are ever shingled.
    sh = docs.filter(F.col("source").isin("src0", "src1")).select(
        "source", F.explode(char_shingles("text", 5)).alias("g")
    )
    pairs = sh.distinct().localCheckpoint(eager=False)
    A = pairs.filter(F.col("source") == "src0").select("g")
    B = pairs.filter(F.col("source") == "src1").select("g")
    sa = sk.kmv_sketch(A, "g").localCheckpoint(eager=False)
    sb = sk.kmv_sketch(B, "g").localCheckpoint(eager=False)

    def scoped(est_df, n_col, scope, exact_df):
        return est_df.crossJoin(exact_df).select(
            F.lit(scope).alias("scope"),
            F.col(n_col).cast("long").alias("n_kept"),
            "est_micro",
            "exact_n",
        )

    # A/B are already distinct sets, so exact distinct counts are plain
    # counts and the overlap join needs no re-dedup
    part_a = scoped(
        sk.kmv_estimate(sa), "n_sample", "src0",
        A.agg(F.count("g").alias("exact_n")),
    )
    part_b = scoped(
        sk.kmv_estimate(sb), "n_sample", "src1",
        B.agg(F.count("g").alias("exact_n")),
    )
    exact_o = A.join(B, "g").agg(F.count(F.lit(1)).alias("exact_n"))
    part_o = scoped(sk.kmv_intersect(sa, sb), "n_common", "overlap", exact_o)
    return part_a.unionByName(part_b).unionByName(part_o)


def _a19_kmv_sql() -> str:
    from arcane_framework_scala_spark.functions import sketch as sk
    from arcane_framework_scala_spark.functions.dedup import (
        _char_shingles_sql,
    )

    grams = _char_shingles_sql("text", 5)
    base = (
        f"SELECT source, unnest({grams}) AS g FROM documents "
        f"WHERE source IN ('src0', 'src1')"
    )
    qa = sk.kmv_sketch_sql("(SELECT g FROM sh WHERE source = 'src0')", "g")
    qb = sk.kmv_sketch_sql("(SELECT g FROM sh WHERE source = 'src1')", "g")
    return f"""
WITH sh AS ({base})
SELECT 'src0' AS scope, CAST(n_sample AS BIGINT) AS n_kept, est_micro,
       (SELECT count(DISTINCT g) FROM sh WHERE source = 'src0') AS exact_n
FROM ({sk.kmv_estimate_sql(qa)})
UNION ALL
SELECT 'src1', CAST(n_sample AS BIGINT), est_micro,
       (SELECT count(DISTINCT g) FROM sh WHERE source = 'src1')
FROM ({sk.kmv_estimate_sql(qb)})
UNION ALL
SELECT 'overlap', CAST(n_common AS BIGINT), est_micro,
       (SELECT count(*) FROM
         (SELECT DISTINCT g FROM sh WHERE source = 'src0'
          INTERSECT
          SELECT DISTINCT g FROM sh WHERE source = 'src1'))
FROM ({sk.kmv_intersect_sql(qa, qb)})
"""


def q_a20_log_hist_quantiles(spark, sf_dir):
    """Mergeable log-histogram quantile sketch (functions/sketch.py):
    the engine-stable alternative to approx_percentile for 100 TB
    monitoring — HDR-style (exponent, 5-mantissa-bit) buckets from
    pure integer bit arithmetic, counts merging by SUM, quantile
    queries walking the ≤ ~1920-bucket cumulative table. Per-lang
    p50/p90/p99 of document length, with the EXACT interpolated
    percentile (the value_quantiles parity surface) beside each
    estimate so the gate hash pins the sketch's ≤ 2^-5 relative
    error."""
    from arcane_framework_scala_spark.functions import sketch as sk

    docs = _read(spark, sf_dir, "documents")
    q = sk.log_hist_quantiles(
        sk.log_histogram(docs, "n_chars", ["lang"]), [50, 90, 99], ["lang"]
    )
    exact = docs.groupBy("lang").agg(
        *[
            F.round(
                F.expr(f"percentile(n_chars, {p / 100})"), 6
            ).alias(f"p{p}")
            for p in (50, 90, 99)
        ]
    )
    stacked = exact.selectExpr(
        "lang", "stack(3, 50, p50, 90, p90, 99, p99) AS (pct, exact_q)"
    )
    return q.join(stacked, ["lang", "pct"]).select(
        "lang", "pct", "est", "exact_q"
    )


def _a20_log_hist_sql() -> str:
    from arcane_framework_scala_spark.functions import sketch as sk

    est = sk.log_hist_quantiles_sql(
        sk.log_histogram_sql("documents", "n_chars", ["lang"]),
        [50, 90, 99],
        ["lang"],
    )
    return f"""
SELECT e.lang, e.pct, e.est, x.exact_q
FROM ({est}) e
JOIN (
  SELECT lang, pct,
         round(CASE pct WHEN 50 THEN quantile_cont(n_chars, 0.5)
                        WHEN 90 THEN quantile_cont(n_chars, 0.9)
                        ELSE quantile_cont(n_chars, 0.99) END, 6) AS exact_q
  FROM documents CROSS JOIN (VALUES (50), (90), (99)) AS p(pct)
  GROUP BY lang, pct
) x USING (lang, pct)
"""


def q_a15_daily_growth(spark, sf_dir):
    """Day-over-day volume report: daily event counts with the previous
    day's count and the absolute delta (a lag window over the daily
    aggregate — integers only; ratio left to the reader because
    truncating vs flooring division of negative deltas differs between
    engines, the same class of trap the repo avoids everywhere)."""
    ev = _read(spark, sf_dir, "events").select(
        F.expr("ts div 1000000000 div 86400").alias("day")
    )
    daily = ev.groupBy("day").agg(F.count(F.lit(1)).alias("n"))
    w = Window.orderBy("day")
    return daily.select(
        "day",
        "n",
        F.coalesce(F.lag("n").over(w), F.lit(0)).alias("prev_n"),
        (F.col("n") - F.coalesce(F.lag("n").over(w), F.lit(0))).alias(
            "delta"
        ),
    )


_A15_SQL = """
WITH daily AS (
  SELECT epoch_ns(ts) // 1000000000 // 86400 AS day, count(*) AS n
  FROM events GROUP BY day
)
SELECT day, n,
       coalesce(lag(n) OVER (ORDER BY day), 0) AS prev_n,
       n - coalesce(lag(n) OVER (ORDER BY day), 0) AS delta
FROM daily
"""


def q_corpus_dup_by_source(spark, sf_dir):
    """Dataset-card row per source: documents, distinct texts, and the
    exact-duplicate rate in ppm (positive integer division — safe in
    both engines). One grouped aggregation over (source, md5)."""
    docs = _read(spark, sf_dir, "documents")
    per = docs.groupBy("source", F.md5("text").alias("d")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return per.groupBy("source").agg(
        F.sum("n").alias("n_docs"),
        F.count(F.lit(1)).alias("n_unique"),
        F.expr(
            "(1000000 * (sum(n) - count(1))) div sum(n)"
        ).alias("dup_ppm"),
    )


_CORPUS_DUP_SRC_SQL = """
WITH per AS (
  SELECT source, md5(text) AS d, count(*) AS n
  FROM documents GROUP BY source, md5(text)
)
SELECT source, CAST(sum(n) AS BIGINT) AS n_docs,
       count(*) AS n_unique,
       (1000000 * (CAST(sum(n) AS BIGINT) - count(*))) // CAST(sum(n) AS BIGINT)
         AS dup_ppm
FROM per GROUP BY source
"""


def q_t_active_users(spark, sf_dir):
    """DAU/WAU — the canonical engagement pair: per day, distinct
    active users that day and over the trailing 7 days. The weekly
    count distincts (day, user) pairs joined to the day spine within
    the window — at 100 TB the exact WAU swaps for an HLL-sketch
    union over daily sketches (the t_rollup_cascade machinery); the
    gate pins the exact path."""
    ev = _read(spark, sf_dir, "events").select(
        F.expr("ts div 1000000000 div 86400").alias("day"), "user_id"
    )
    du = ev.distinct()
    dau = du.groupBy("day").agg(F.countDistinct("user_id").alias("dau"))
    days = du.select("day").distinct().withColumnRenamed("day", "d0")
    wau = (
        days.join(
            du,
            (F.col("day") <= F.col("d0")) & (F.col("day") > F.col("d0") - 7),
        )
        .groupBy("d0")
        .agg(F.countDistinct("user_id").alias("wau"))
        .withColumnRenamed("d0", "day")
    )
    return dau.join(wau, "day").select("day", "dau", "wau")


_T_ACTIVE_SQL = """
WITH du AS (
  SELECT DISTINCT epoch_ns(ts) // 1000000000 // 86400 AS day, user_id
  FROM events
),
dau AS (SELECT day, count(DISTINCT user_id) AS dau FROM du GROUP BY day),
days AS (SELECT DISTINCT day AS d0 FROM du),
wau AS (
  SELECT d0 AS day, count(DISTINCT du.user_id) AS wau
  FROM days JOIN du ON du.day <= d0 AND du.day > d0 - 7
  GROUP BY d0
)
SELECT day, dau, wau FROM dau JOIN wau USING (day)
"""


def q_dedup_semantic(spark, sf_dir):
    """SemDeDup (arXiv:2303.09540): cluster-scoped semantic dedup — the
    deterministic fixed-point k-means codebook assigns every embedding
    to a cell (broadcast join + max_by hash agg), then ONE cell-keyed
    shuffle feeds a within-cell self-join whose pairwise cosine work is
    Σ|cell|² instead of N² (threshold calibrated to the synthetic
    corpus's ≈0.51 max pairwise cosine; production default 0.9 with
    k ≈ N/1000). Min-id survivor per near-dup ball, keep flag per
    vector."""
    from arcane_framework_scala_spark.functions.semdedup import (
        semantic_dedup,
    )

    return semantic_dedup(
        _read(spark, sf_dir, "embeddings"), k=8, iters=2, threshold=0.35
    )


#: fit-once k-means codebook cache for the SemDeDup prefit gate (the
#: _pq_codebook pattern: kmeans_fit is a deterministic fixed point, so
#: prefit vs in-query codebooks are bit-identical and the oracle hash
#: is unchanged — the gate prices the SEARCH, not the Lloyd fit).
_SD_CODEBOOK_CACHE: dict[tuple[str, str], DataFrame] = {}


def q_dedup_semantic_prefit(spark, sf_dir):
    """SemDeDup against a PREFIT codebook (train-offline-once /
    dedup-many — the production shape, mirroring sim_pq_topk's prefit
    switch): identical output to dedup_semantic by fixed-point
    determinism, but the in-query cost is assignment + the Σ|cell|²
    within-cell pass only. Shares dedup_semantic's oracle."""
    from arcane_framework_scala_spark.functions.kmeans import kmeans_fit
    from arcane_framework_scala_spark.functions.semdedup import (
        semantic_dedup,
    )

    key = (spark.sparkContext.applicationId, sf_dir)
    cb = _SD_CODEBOOK_CACHE.get(key)
    if cb is None:
        cb = kmeans_fit(
            _read(spark, sf_dir, "embeddings"), k=8, iters=2
        ).localCheckpoint(eager=True)  # 8 rows — materialize the fit once
        _SD_CODEBOOK_CACHE[key] = cb
    return semantic_dedup(
        _read(spark, sf_dir, "embeddings"), threshold=0.35, codebook=cb
    )


def q_corpus_fuzzy_contamination(spark, sf_dir):
    """Near-dup benchmark decontamination: every 10th document plays the
    held-out benchmark (the corpus_contamination split); corpus docs
    whose MinHash LSH bands collide with any benchmark doc are flagged.
    Catches paraphrased eval leakage that exact 8-gram matching misses;
    benchmark bands broadcast, corpus pays one signature aggregation +
    one id-keyed groupBy — no self-join, no text shuffle."""
    docs = _read(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    corp = docs.filter(F.col("doc_id") % 10 != 0)
    return dd.fuzzy_contamination(corp, bench, num_hashes=16, bands=4)


def q_corpus_dsir_select(spark, sf_dir):
    """DSIR data selection (arXiv:2302.03169): hashed-unigram
    distributions for a target domain (sources src0/src1 play the
    'high-quality reference') vs the raw corpus; each document scores
    the mean per-token log-ratio — floored to int64 micro per bucket,
    accumulated all-integer — and the top 25% by weight are selected
    via a broadcast percentile threshold (the lm_buckets cut pattern,
    never a global rank window)."""
    from arcane_framework_scala_spark.functions.lm import dsir_select

    return dsir_select(
        _read(spark, sf_dir, "documents"),
        F.col("source").isin("src0", "src1"),
        frac=0.25,
        dim=256,
    )


def q_corpus_quality_classifier(spark, sf_dir):
    """GPT-3/CCNet-style discriminative quality filter: logistic
    regression over hashed unigram features, trained IN-ENGINE by 3
    fixed-point gradient-descent rounds (integer micro weights, one
    float sigmoid expression per step, integer gradient sums — the
    kmeans playbook applied to GD), sources src0/src1 as the
    high-quality reference class. Output: per-doc sigmoid score +
    reference_like flag; the whole iterative fit hash-matches the
    unrolled-CTE oracle."""
    from arcane_framework_scala_spark.functions.classifier import (
        quality_classifier_score,
    )

    return quality_classifier_score(
        _read(spark, sf_dir, "documents"),
        F.col("source").isin("src0", "src1"),
        iters=3,
        dim=256,
    )


def q_s11_auth_mapping(spark, sf_dir):
    """S11: blob-store credential → Hadoop connector configuration.
    Applies the reference's three Azure auth modes (shared key / SAS /
    default-credential, ``AzureStorageConnectionSettings.scala:12-59``)
    plus the full S3ClientSettings surface to the LIVE session's Hadoop
    configuration, then reads every key back off the session — proving
    the mapping landed where abfss/s3a reads will find it. The oracle is
    a hand-written literal table of the documented hadoop-azure /
    hadoop-aws keys, so this doubles as a golden pin of the public conf
    names (synthetic throwaway credentials only)."""
    from arcane_framework_scala_spark.sources.storage_auth import (
        AzureStorageSettings,
        S3StorageSettings,
        apply_storage_auth,
    )

    _harden_session(spark)
    applied = apply_storage_auth(
        spark,
        [
            AzureStorageSettings(
                "unittestacct", access_key="c2VjcmV0LWtleQ=="
            ),
            AzureStorageSettings("sasacct", sas_token="?sv=2024&sig=fake"),
            AzureStorageSettings("msiacct"),
            S3StorageSettings(
                access_key_id="TESTKEYID00000000000",
                secret_access_key="fake/secret/key",
                session_token="fake-session-token",
                region="eu-west-1",
                endpoint="http://localhost:9000",
                path_style_access=True,
            ),
        ],
    )
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    rows = [(k, hconf.get(k)) for k in sorted(applied)]
    return spark.createDataFrame(
        rows, "conf_key string, conf_value string"
    )


_S11_AUTH_SQL = """
SELECT * FROM (VALUES
  ('fs.azure.account.auth.type.msiacct.dfs.core.windows.net', 'OAuth'),
  ('fs.azure.account.auth.type.sasacct.dfs.core.windows.net', 'SAS'),
  ('fs.azure.account.auth.type.unittestacct.dfs.core.windows.net',
   'SharedKey'),
  ('fs.azure.account.key.unittestacct.dfs.core.windows.net',
   'c2VjcmV0LWtleQ=='),
  ('fs.azure.account.oauth.provider.type.msiacct.dfs.core.windows.net',
   'org.apache.hadoop.fs.azurebfs.oauth2.MsiTokenProvider'),
  ('fs.azure.sas.fixed.token.sasacct.dfs.core.windows.net',
   'sv=2024&sig=fake'),
  ('fs.azure.sas.token.provider.type.sasacct.dfs.core.windows.net',
   'org.apache.hadoop.fs.azurebfs.sas.FixedSASTokenProvider'),
  ('fs.s3a.access.key', 'TESTKEYID00000000000'),
  ('fs.s3a.aws.credentials.provider',
   'org.apache.hadoop.fs.s3a.TemporaryAWSCredentialsProvider'),
  ('fs.s3a.endpoint', 'http://localhost:9000'),
  ('fs.s3a.endpoint.region', 'eu-west-1'),
  ('fs.s3a.paging.maximum', '1000'),
  ('fs.s3a.path.style.access', 'true'),
  ('fs.s3a.retry.interval', '100ms'),
  ('fs.s3a.retry.limit', '5'),
  ('fs.s3a.secret.key', 'fake/secret/key'),
  ('fs.s3a.session.token', 'fake-session-token')
) AS t(conf_key, conf_value)
"""


def q_a6_shard_estimate(spark, sf_dir):
    """A6: backfill shard-size estimation over a real file listing.
    Writes lineitem as 5000-row parquet chunks (one writer task, so the
    per-file cap decides the layout), then runs the real
    ``backfill_shards`` machinery — Hadoop listing, per-file
    ``getFileStatus().getLen()`` sizing, ≤4-files-per-shard grouping —
    and loads each shard back through ``BlobParquetSource`` to count its
    files and rows. The oracle recomputes the expected grouping
    arithmetic from ``count(*)`` alone, so any drift in listing order,
    chunking, or shard assembly breaks the hash."""
    import tempfile

    from arcane_framework_scala_spark.sources.blob import BlobParquetSource

    _harden_session(spark)
    run_dir = tempfile.mkdtemp(prefix="arcane_a6_run_")
    files_dir = os.path.join(run_dir, "files")
    li = _read(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    (
        li.coalesce(1)
        .write.option("maxRecordsPerFile", 5000)
        .parquet(files_dir)
    )
    src = BlobParquetSource(
        spark=spark,
        path=files_dir,
        primary_keys=["l_orderkey", "l_linenumber"],
    )
    shards = src.backfill_shards(
        max_shard_bytes=10 * 1024**3, max_shard_files=4
    )
    rows = []
    for sh in shards:  # metadata-sized loop: one 1-row agg per shard
        agg = (
            sh.load()
            .select(F.input_file_name().alias("__f"))
            .agg(
                F.countDistinct("__f").alias("nf"),
                F.count(F.lit(1)).alias("nr"),
            )
            .collect()[0]
        )
        rows.append((sh.name, int(agg["nf"]), int(agg["nr"])))
    return spark.createDataFrame(
        rows, "shard_name string, n_files int, n_rows bigint"
    )


_A6_SHARD_SQL = """
WITH f AS (
  SELECT i,
         CASE WHEN i < CAST(ceil(n / 5000.0) AS BIGINT) - 1 THEN 5000
              ELSE n - 5000 * (CAST(ceil(n / 5000.0) AS BIGINT) - 1)
         END AS file_rows
  FROM (SELECT count(*) AS n FROM lineitem),
       (SELECT unnest(range(0, (SELECT CAST(ceil(count(*) / 5000.0)
                                        AS BIGINT) FROM lineitem))) AS i)
)
SELECT printf('%05d', CAST(i // 4 AS INT)) AS shard_name,
       CAST(count(*) AS INT) AS n_files,
       CAST(sum(file_rows) AS BIGINT) AS n_rows
FROM f GROUP BY 1
"""


def q_t4_shaper_chain(spark, sf_dir):
    """T4 (+T3/T5): the full MemoryBoundShaper estimation chain, driven by
    stats probed from live data and re-derived arithmetically by the
    oracle. The reference sizes micro-batches from target-table statistics
    (``MemoryBoundShaper.scala:29-265``): string-length estimation from
    summed string-column bytes, the sigmoid memory cutoff that grows with
    table rows x bytes, the exact per-type row-cost matrix, the
    partitions/2 cap, burst sizing, the Poisson-GC leaking-bucket rate,
    the chunk-cost sigmoid, and the T4->T7 files-per-trigger hand-off.
    Runtime inputs (free memory 4 GiB, gc count 0, uptime 100 s) are
    injected so the chain is deterministic; the table-stat probes (row
    count, summed string chars at 2 resident bytes/char, +16 bytes/row
    for the two int64 data columns) mirror the reference's JDBC stats
    queries (A3-A5). One metadata-sized collect: a single 1-row agg, the
    same shape the reference's stats probe returns. The oracle recomputes
    every stage from ``count(*)``/``length()`` alone, so any drift in the
    cost matrix, sigmoid shifts, cap rules, or floor points breaks the
    hash. Also covers T3 (MemoryAwareShaper simplified row model) and T5
    (StaticShaper config passthrough) in the same row."""
    from arcane_framework_scala_spark.streaming.throughput import (
        MemoryAwareShaper,
        MemoryBoundShaper,
        StaticShaper,
        estimate_string_length,
    )

    _harden_session(spark)
    docs = _read(spark, sf_dir, "documents")
    st = docs.agg(
        F.count(F.lit(1)).alias("n"),
        (
            2
            * (
                F.sum(F.length("text"))
                + F.sum(F.length("lang"))
                + F.sum(F.length("source"))
            )
        )
        .cast("long")
        .alias("b"),
    ).collect()[0]  # metadata-sized: one stats row (reference probes A3-A5)
    n, b = int(st["n"]), int(st["b"])
    s_bytes = b + 16 * n  # probe model: string bytes + 2 int64 cols x 8 B
    free = 4 << 30
    shaper = MemoryBoundShaper(
        free_memory_fn=lambda: free,
        gc_count_fn=lambda: 0,
        uptime_fn=lambda: 100.0,
    )
    chunk_rows, elem = shaper.estimate_chunk_size(
        docs.schema, n, s_bytes, partitions=1, string_col_bytes=b
    )
    burst = shaper.estimate_shape_burst(chunk_rows, elem)
    rate_rows, rate_interval = shaper.estimate_shape_rate(chunk_rows)
    files = shaper.files_per_trigger(
        docs.schema, n, s_bytes, table_files=8, partitions=1, string_col_bytes=b
    )
    cost = shaper.estimate_chunk_cost(chunk_rows)
    part_shaper = MemoryBoundShaper(free_memory_fn=lambda: free)
    chunk_capped, _ = part_shaper.estimate_chunk_size(
        docs.schema, n, s_bytes, partitions=32, string_col_bytes=b
    )
    slen = estimate_string_length(b, n)
    aware = MemoryAwareShaper(executor_memory_bytes=free).max_rows(
        docs.schema, float(slen)
    )
    static = StaticShaper()
    row = (
        slen,
        elem,
        chunk_rows,
        chunk_capped,
        burst,
        rate_rows,
        int(rate_interval * 1_000_000),
        files,
        cost,
        aware,
        static.max_rows_per_batch,
        int(static.poll_interval_seconds * 1_000_000),
    )
    return spark.createDataFrame(
        [row],
        "est_string_len bigint, row_size_bytes bigint, chunk_rows bigint, "
        "chunk_rows_partitioned bigint, burst_rows bigint, "
        "rate_rows_per_interval bigint, rate_interval_micros bigint, "
        "files_per_trigger bigint, chunk_cost bigint, aware_max_rows bigint, "
        "static_max_rows bigint, static_poll_micros bigint",
    )


def q_s3_tsql_surfaces(spark, sf_dir):
    """S3/S4/A1/O2 (+P2/O5): the SQL-text and property surfaces that can
    only EXECUTE against live SQL Server / a lakehouse catalog, pinned as
    driver-verified golden rows. Each row renders one surface through the
    real builder and the oracle is a hand-written literal of the
    documented T-SQL (reference templates
    ``get_column_summaries_query.sql``, ``QueryProvider.scala:84-143``):
    PK/schema discovery (S3), CHANGE_TRACKING_CURRENT_VERSION /
    dm_tran_commit_table version probes (S4/A1), the TOP 1 emptiness
    probe (O2), the server-side pruned column list with PK protection
    (P2, executable logic — ``field_filter.server_side_column_list``),
    the Iceberg ``write.sort-order`` property mapping (O5), and — new
    in r7, closing §2's last open row — the A7 query-cost surfaces:
    the STATISTICS PROFILE probe, the physical-stats shard profile,
    the costToSize fold (1 + ln(cost)^3 clamped to [1,1000], pinned at
    six canonical costs to 6 decimals), the EstimateIO+EstimateCPU sum
    over a canned profile result set, and the derived shard count
    (``QueryProvider.scala:163-186`` + ``MsSqlStreamingSource.scala:
    382-411``). Any drift in the rendered text breaks the driver's
    hash, independently of the repo's own golden tests."""
    from arcane_framework_scala_spark.operators.field_filter import (
        server_side_column_list,
    )
    from arcane_framework_scala_spark.queries.overwrite import TableProperties
    from arcane_framework_scala_spark.sources.mssql import (
        MsSqlQueryBuilder,
        cost_to_size,
        shards_from_cost,
        sum_profile_cost,
    )

    _harden_session(spark)
    b = MsSqlQueryBuilder("testdb", "dbo", "events")
    pruned = server_side_column_list(
        ["event_id", "ts", "user_id", "event_type", "value", "props"],
        FieldSelectionRule(
            mode="exclude", fields=frozenset({"props", "value"}),
            is_server_side=True,
        ),
        primary_keys=["event_id"],
    )
    props = TableProperties(sorted_by=("ts", "user_id")).tblproperties()
    profile_rows = [  # canned STATISTICS PROFILE result set (A7)
        {"EstimateIO": 0.5, "EstimateCPU": 0.25},
        {"EstimateIO": None, "EstimateCPU": 1.0},
        {},
    ]
    cost_table = ",".join(
        f"{c}:{cost_to_size(c):.6f}"
        for c in (0.1, 0.5, 1.0, 42.5, 5000.0, 1000000.0)
    )
    rows = [
        ("a1_s4_current_version", b.current_version_query()),
        ("a7_cost_to_size", cost_table),
        ("a7_physical_stats", b.physical_stats_query(500)),
        ("a7_shards_from_cost", str(shards_from_cost(10240.0, 42.5))),
        ("a7_stats_profile", b.stats_profile_query()),
        ("a7_sum_profile_cost", f"{sum_profile_cost(profile_rows):.6f}"),
        ("o2_has_changes", b.has_changes_query(42)),
        ("o5_sort_order_property", props["write.sort-order"]),
        ("p2_server_side_projection", ",".join(pruned)),
        ("s3_column_summaries", b.column_summaries_query()),
        ("s4_version_commit_time", b.version_commit_time_query(42)),
        (
            "s4_version_from_timestamp",
            b.version_from_timestamp_query("2026-01-01T00:00:00"),
        ),
    ]
    return spark.createDataFrame(rows, "surface string, rendered string")


_S3_TSQL_SQL = """
SELECT * FROM (VALUES
  ('a1_s4_current_version',
   'SELECT CHANGE_TRACKING_CURRENT_VERSION()'),
  ('a7_cost_to_size',
   '0.1:1.000000,0.5:0.666975,1.0:1.000000,42.5:53.713456,5000.0:618.859167,1000000.0:1000.000000'),
  ('a7_physical_stats', 'SELECT
    (page_count * 8.0) / 1024 / 1024 as total_size_gib,
    ceiling((page_count * 8.0) / 1024 / 500) as shards,
    record_count / ceiling((page_count * 8.0) / 1024 / 500) as records_per_shard
FROM
    sys.dm_db_index_physical_stats(DB_ID(), OBJECT_ID(''dbo.events''), 1, NULL, ''DETAILED'')
where index_level = 0'),
  ('a7_shards_from_cost', '191'),
  ('a7_stats_profile', 'EXEC(''
 SET STATISTICS PROFILE ON;
 SELECT TOP 1 * FROM [dbo].[events];
 SET STATISTICS PROFILE OFF'')'),
  ('a7_sum_profile_cost', '1.750000'),
  ('o2_has_changes',
   'SELECT TOP 1 1 FROM CHANGETABLE (CHANGES [testdb].[dbo].[events], 42) ct'),
  ('o5_sort_order_property', 'ts,user_id'),
  ('p2_server_side_projection', 'event_id,ts,user_id,event_type'),
  ('s3_column_summaries', 'select
    c.COLUMN_NAME,
    case when kcu.CONSTRAINT_NAME is not null then 1 else 0 end as IsPrimaryKey,
    c.DATA_TYPE
from
    [testdb].INFORMATION_SCHEMA.COLUMNS c
    left join [testdb].INFORMATION_SCHEMA.TABLE_CONSTRAINTS tc on c.TABLE_SCHEMA = tc.TABLE_SCHEMA and c.TABLE_NAME = tc.TABLE_NAME
    left join [testdb].INFORMATION_SCHEMA.KEY_COLUMN_USAGE kcu on tc.CONSTRAINT_NAME = kcu.CONSTRAINT_NAME and c.COLUMN_NAME = kcu.COLUMN_NAME
where
    tc.CONSTRAINT_TYPE = N''PRIMARY KEY''
    and tc.TABLE_NAME = N''events''
    and tc.TABLE_SCHEMA = N''dbo''
order by c.ORDINAL_POSITION'),
  ('s4_version_commit_time',
   'SELECT MIN(commit_time) FROM sys.dm_tran_commit_table WHERE commit_ts = 42'),
  ('s4_version_from_timestamp',
   'SELECT MIN(commit_ts) FROM sys.dm_tran_commit_table WHERE commit_time >= ''2026-01-01T00:00:00''')
) AS t(surface, rendered)
"""


def q_t10_graceful_stop(spark, sf_dir):
    """T10: graceful stop executed for real, mid-stream. A 3-batch CT
    source feeds the polling runner; a REAL SIGTERM (``os.kill`` on the
    installed handler — reference ``StreamRunner``'s interruption
    semantics; falls back to ``stop()`` when the harness thread can't
    own signal handlers) lands while batch 2 is inside the merge. The
    contract (``streaming/runner.py:148-183``): the in-flight batch
    FINISHES and commits its watermark, batch 3 is never fetched, and
    the loop exits without sleeping. A second runner then restarts from
    the committed watermark and merges exactly the remainder — stop +
    restart must converge to the single full-range M1 merge (the same
    oracle as t1/t2/t9), proving no batch was lost or double-applied
    around the interruption point. In-gate asserts pin the mid-state:
    2 batches merged, watermark at cut 2, then 1 resumed batch to head."""
    import signal
    import tempfile
    import time

    from arcane_framework_scala_spark.sinks.merge_sink import (
        MergeSink,
        SnapshotParquetTarget,
    )
    from arcane_framework_scala_spark.sources.base import MicroBatch
    from arcane_framework_scala_spark.streaming.runner import (
        StreamRunner,
        StreamSettings,
    )
    from arcane_framework_scala_spark.streaming.watermark import (
        FileWatermarkStore,
        Watermark,
    )

    _harden_session(spark)
    thr = _events_threshold(spark, sf_dir)
    head = _read(spark, sf_dir, "events").agg(F.max("event_id")).first()[0]
    step = (head - thr) // 3
    cuts = [thr, thr + step, thr + 2 * step, head]
    run_dir = tempfile.mkdtemp(prefix="arcane_t10_run_")

    target = SnapshotParquetTarget(spark, os.path.join(run_dir, "tgt"))
    target.overwrite(_mssql_target(spark, sf_dir, thr))

    class _Source:
        """One poll releases every tranche above the stored watermark."""

        def current_version(self):
            return {"version": str(head)}

        def changes(self, since):
            lower = int(since["version"]) if since else thr
            for hi in cuts[1:]:
                if hi > lower:
                    yield MicroBatch(
                        df=_mssql_changes(spark, sf_dir, lower=lower, upper=hi),
                        watermark={"version": str(hi)},
                    )
                    lower = hi

    store = FileWatermarkStore(path=os.path.join(run_dir, "wm.json"))
    store.commit(Watermark.now(version=str(thr)))
    runner = StreamRunner(
        source=_Source(),
        sink=None,  # wired below via the mid-stream shim
        watermark_store=store,
        settings=StreamSettings(poll_interval_seconds=0.01),
    )
    prev_term = signal.getsignal(signal.SIGTERM)
    prev_int = signal.getsignal(signal.SIGINT)
    try:
        try:
            runner.install_signal_handler()
            installed = True
        except ValueError:  # not on the main thread — direct stop()
            installed = False

        def _fire():
            if installed:
                os.kill(os.getpid(), signal.SIGTERM)
                deadline = time.monotonic() + 5.0
                while (
                    not runner._cancelled.is_set()
                    and time.monotonic() < deadline
                ):
                    time.sleep(0.001)  # handler runs between bytecodes
            if not runner._cancelled.is_set():
                runner.stop()

        class _StopMidStream:
            """Delegating sink: SIGTERM arrives while apply #2 runs."""

            def __init__(self, inner):
                self.inner = inner
                self.applies = 0

            def apply(self, df):
                self.applies += 1
                if self.applies == 2:
                    _fire()
                self.inner.apply(df)

        runner.sink = _StopMidStream(
            MergeSink(target=target, dialect=SQL_SERVER_CHANGE_TRACKING)
        )
        metrics = runner.run()
    finally:
        signal.signal(signal.SIGTERM, prev_term)
        signal.signal(signal.SIGINT, prev_int)
    if metrics.batches_merged != 2:
        raise AssertionError(
            f"graceful stop must finish the in-flight batch and skip the "
            f"rest: merged {metrics.batches_merged}, expected 2"
        )
    if store.read().version != str(cuts[2]):
        raise AssertionError(f"watermark not at cut 2: {store.read()}")

    resumed = StreamRunner(
        source=_Source(),
        sink=MergeSink(target=target, dialect=SQL_SERVER_CHANGE_TRACKING),
        watermark_store=store,
        settings=StreamSettings(poll_interval_seconds=0.01),
    )
    if resumed.run_once() != 1:
        raise AssertionError("restart must merge exactly the remainder")
    if store.read().version != str(head):
        raise AssertionError(f"watermark not at head: {store.read()}")
    return target.read().select(
        "ARCANE_MERGE_KEY", "SYS_CHANGE_VERSION", "user_id", "event_type", "value"
    )


def q_t12_metrics_wire(spark, sf_dir):
    """T12: the declared-metric pipeline end-to-end — DeclaredMetrics
    fan-out, counter-sum/gauge-latest semantics, and the REAL DogStatsD
    datagram path (StatsdEmitter → loopback UDP socket → received wire
    bytes), with metric values derived from live data. The reference
    declares the same inventory and publishes via a DataDog StatsD
    socket (``DeclaredMetrics.scala:18-103``). rows.incoming arrives in
    two batch halves that must SUM in the collecting emitter;
    watermark.age is the fixed-"now" lag behind ``max(events.ts)`` —
    the reference's watermark-age gauge. The oracle derives every wire
    line from ``count(*)``/``max(ts)`` arithmetic, so the metric names,
    the DogStatsD ``name:value|kind|#tags`` grammar, the sorted-tag
    rule, and the aggregation semantics are all hash-pinned."""
    import socket

    from arcane_framework_scala_spark import metrics as M

    _harden_session(spark)
    agg = (
        _read(spark, sf_dir, "events")
        .agg(F.count(F.lit(1)).alias("n"), F.max("ts").alias("max_ns"))
        .collect()[0]
    )  # metadata-sized: one stats row
    n = int(agg["n"])
    age = 1780272000 - int(agg["max_ns"]) // 1_000_000_000  # fixed "now"
    rx = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
    rx.bind(("127.0.0.1", 0))
    rx.settimeout(10)
    port = rx.getsockname()[1]
    col = M.CollectingEmitter()
    dm = M.DeclaredMetrics(
        [
            col,
            M.StatsdEmitter(
                f"127.0.0.1:{port}", tags={"stream": "events", "env": "ci"}
            ),
        ]
    )
    dm.counter(M.ROWS_INCOMING, n - n // 2)  # two halves — must sum
    dm.counter(M.ROWS_INCOMING, n // 2)
    dm.gauge(M.WATERMARK_AGE, age)
    dm.counter(M.WATERMARK_UPDATES)
    wire = [rx.recv(2048).decode() for _ in range(4)]
    rx.close()
    rows = [("statsd", w) for w in wire] + [
        ("collected", f"counter {M.ROWS_INCOMING} = {col.counters[M.ROWS_INCOMING]}"),
        ("collected", f"counter {M.WATERMARK_UPDATES} = {col.counters[M.WATERMARK_UPDATES]}"),
        ("collected", f"gauge {M.WATERMARK_AGE} = {col.gauges[M.WATERMARK_AGE]}"),
    ]
    return spark.createDataFrame(rows, "channel string, line string")


_T12_METRICS_SQL = """
WITH par AS (
  SELECT n, n // 2 AS h, 1780272000 - wm AS age
  FROM (SELECT count(*) AS n,
               max(epoch_ns(ts)) // 1000000000 AS wm
        FROM events)
)
SELECT 'statsd' AS channel,
       'arcane.stream.rows.incoming:' || CAST(n - h AS VARCHAR)
         || '|c|#env:ci,stream:events' AS line FROM par
UNION ALL SELECT 'statsd',
       'arcane.stream.rows.incoming:' || CAST(h AS VARCHAR)
         || '|c|#env:ci,stream:events' FROM par
UNION ALL SELECT 'statsd',
       'arcane.stream.watermark.age:' || CAST(age AS VARCHAR)
         || '|g|#env:ci,stream:events' FROM par
UNION ALL SELECT 'statsd',
       'arcane.stream.watermark.updates:1|c|#env:ci,stream:events' FROM par
UNION ALL SELECT 'collected',
       'counter arcane.stream.rows.incoming = ' || CAST(n AS VARCHAR) FROM par
UNION ALL SELECT 'collected',
       'counter arcane.stream.watermark.updates = 1' FROM par
UNION ALL SELECT 'collected',
       'gauge arcane.stream.watermark.age = ' || CAST(age AS VARCHAR) FROM par
"""


#: Oracle re-derivation of the whole chain. documents schema cost under the
#: reference matrix: 2 x int64 @36 + 3 x string @(32+16+2*slen) = 216+6*slen
#: (MemoryBoundShaper row model); the T3 MemoryAwareShaper model prices
#: strings at int(48 + 2*slen*1.5) = 48+3*slen, so 216+9*slen. Injected
#: runtime: free=2^32, gc_count=0, uptime=100 s, advised interval 10 s.
#: Python int() truncation on positive floats == floor() here.
_T4_SHAPER_SQL = """
WITH st AS (
  SELECT count(*) AS n,
         2 * (sum(length(text)) + sum(length(lang)) + sum(length(source)))
           AS b
  FROM documents
), par AS (
  SELECT n, b, b + 16 * n AS s,
         -- estimate_string_length incl. its no-stats fallback (=100)
         CASE WHEN b <= 0 THEN CAST(100 AS BIGINT)
              ELSE CAST(floor(b * 1.5 / n / 2) AS BIGINT) END AS slen,
         4294967296.0 AS free
  FROM st
), model AS (
  SELECT *,
         greatest(CAST(216 + 6 * slen AS DOUBLE), n / (s + 1.0)) AS row_size,
         0.8 * (2.0 / (1.0 + exp(-2.0 * (0.5 * ln(n) + 0.5 * ln(s)))) - 1.0)
           AS cutoff
  FROM par
), chunk AS (
  SELECT *, free * cutoff / (row_size + 1) / 2 AS chunk_f FROM model
), appl AS (
  SELECT *,
         CAST(floor(greatest(chunk_f, 1.0)) AS BIGINT) AS chunk_rows,
         CAST(floor(least(chunk_f, 32 / 2.0)) AS BIGINT) AS chunk_capped,
         CAST(floor(row_size) AS BIGINT) AS elem
  FROM chunk
)
SELECT slen AS est_string_len,
       elem AS row_size_bytes,
       chunk_rows,
       chunk_capped AS chunk_rows_partitioned,
       CAST(floor(greatest(free / (elem + 1), 0.1 * chunk_rows, 10.0))
            AS BIGINT) AS burst_rows,
       CAST(floor(chunk_rows * (1 + (1 - exp(-0.1))) / 10.0) AS BIGINT) + 1
         AS rate_rows_per_interval,
       CAST(1000000 AS BIGINT) AS rate_interval_micros,
       greatest(CAST(floor(chunk_rows / greatest(n / 8, 1.0)) AS BIGINT), 1)
         AS files_per_trigger,
       CAST(floor(10 * (2.0 / (1.0 + exp(-1.0 * (2 * chunk_rows * row_size
                                                 / (free + 1)))) - 1.0))
            AS BIGINT) AS chunk_cost,
       greatest(CAST(floor(free * 0.8 / (2 * (216 + 9 * slen))) AS BIGINT), 1)
         AS aware_max_rows,
       CAST(100000 AS BIGINT) AS static_max_rows,
       CAST(15000000 AS BIGINT) AS static_poll_micros
FROM appl
"""



#: chained-star-import contract: export EVERYTHING (incl. _helpers)
__all__ = [n for n in list(globals()) if not n.startswith("__")]

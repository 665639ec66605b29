"""Text-curation operators for LLM training-data pipelines (SURVEY.md
§2.12 extension set — engine additions beyond the reference surface).

The reference normalizes nothing — it passes GeoNames fields through
verbatim (geonames.js:125-178). A training-data engine runs text
canonicalization, PII redaction, repetition scoring, and domain-mix
weighting over every document at 100 TB, so they must be JVM-side
expressions (regexp / aggregate codegen), never Python UDFs.

The ``documents`` fixture is clean lowercase word-salad, so the
normalize / redact operators first synthesize a deterministic "dirty"
form (case noise, punctuation wrappers, synthetic emails / phone
numbers derived from ``doc_id``) — built with IDENTICAL expressions on
the Spark and DuckDB sides — and then clean it. The cleaning logic is
the real operator; the dirt is just a reproducible fixture transform.

Dialect notes (cost time once already — see the repo working notes, CLAUDE.md):
- DuckDB ``regexp_replace`` replaces the FIRST match unless passed the
  ``'g'`` flag; Spark's is global by default. Every oracle here passes
  ``'g'``.
- DuckDB ``SUM(int)`` returns HUGEINT → always ``CAST(... AS BIGINT)``.
- Ratios/averages round with qround (floor-form) on BOTH sides.
- Global totals on the Spark side use a broadcast 1-row crossJoin, not
  an un-partitioned window (plan-contract sweep bans those).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_geonames_spark.functions import pin, qround, spread, sql_qround
from etl_geonames_spark.registry import query
from etl_geonames_spark.sources import load_table

# ---------------------------------------------------------------------------
# Text normalization
# ---------------------------------------------------------------------------


@query(
    "llm_normalize_text",
    oracle="""
    WITH dirty AS (
        SELECT doc_id,
               (CASE WHEN doc_id % 2 = 0 THEN upper(text) ELSE text END
                || '  <<' || CAST(doc_id AS VARCHAR) || '>>!!') AS raw
        FROM documents
    )
    SELECT doc_id,
           trim(regexp_replace(
               regexp_replace(lower(raw), '[^a-z0-9 ]', ' ', 'g'),
               ' +', ' ', 'g')) AS norm_text,
           CAST(length(trim(regexp_replace(
               regexp_replace(lower(raw), '[^a-z0-9 ]', ' ', 'g'),
               ' +', ' ', 'g'))) AS BIGINT) AS n_chars_norm
    FROM dirty
    """,
)
def llm_normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text normalization: lowercase, strip non-alphanumerics,
    collapse whitespace — the pass every dedup / quality op runs first
    so near-dup hashing is case- and punctuation-invariant.

    100 TB shape: pure map-side regexp codegen, zero shuffles, zero
    Python; the whole pass pipelines inside one WholeStageCodegen over
    the scan. The deterministic "dirt" (case flips + punctuation
    wrapper) exists only because the fixture is already clean.
    """
    docs = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.upper("text")).otherwise(
            F.col("text")
        ),
        F.lit("  <<"),
        F.col("doc_id").cast("string"),
        F.lit(">>!!"),
    )
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(raw), "[^a-z0-9 ]", " "), " +", " "
        )
    )
    return docs.select(
        "doc_id",
        norm.alias("norm_text"),
        F.length(norm).cast("long").alias("n_chars_norm"),
    )


# ---------------------------------------------------------------------------
# HTML / markup extraction (the C4 step BEFORE normalization)
# ---------------------------------------------------------------------------

# (?s) + non-greedy cross-char body: a [^<]* body under-strips any
# real page whose script/style content contains '<' (e.g. 'a<b'),
# leaking code into the extracted text; .*? with dotall spans
# newlines and stops at the first close tag. Same syntax in Java
# regex (Spark) and RE2 (DuckDB).
_HTML_SCRIPT_RE = "(?s)<script[^>]*>.*?</script>"
_HTML_STYLE_RE = "(?s)<style[^>]*>.*?</style>"
_HTML_TAG_RE = "<[^>]*>"
# &amp; decodes LAST: decoding it first would rewrite an escaped
# entity like '&amp;lt;' into '&lt;' and then double-decode it to '<'
# — the standard unescape order (every other entity first, amp last)
_HTML_ENTITIES = [
    ("&lt;", "<"), ("&gt;", ">"),
    ("&quot;", '"'), ("&#39;", "'"), ("&amp;", "&"),
]


def _sql_entity_chain(inner: str) -> str:
    """Wrap ``inner`` in nested DuckDB replace() calls, one per HTML
    entity, innermost first (same order as the Spark chain). The
    single-quote decode target is emitted as chr(39) so no SQL-literal
    escaping is needed."""
    out = inner
    for ent, ch in _HTML_ENTITIES:
        target = "chr(39)" if ch == "'" else f"'{ch}'"
        out = f"replace({out}, '{ent}', {target})"
    return out


@query(
    "llm_html_extract",
    oracle=f"""
    WITH page AS (
        SELECT doc_id,
               '<html><head><script type="text/javascript">var x='
               || CAST(doc_id AS VARCHAR)
               || ';</script><style>.c {{ color: #fff }}</style>'
               || '</head><body class="c"><h1>Doc &amp; '
               || CAST(doc_id AS VARCHAR) || '</h1><p>' || text
               || '</p><br/><span>&lt;tail&gt;</span></body></html>'
                 AS html
        FROM documents
    ),
    stripped AS (
        SELECT doc_id, html,
               {_sql_entity_chain(
                   "regexp_replace(regexp_replace(regexp_replace(html, '"
                   + _HTML_SCRIPT_RE + "', '', 'g'), '"
                   + _HTML_STYLE_RE + "', '', 'g'), '"
                   + _HTML_TAG_RE + "', '', 'g')"
               )} AS decoded
        FROM page
    ),
    clean AS (
        SELECT doc_id,
               CAST(length(html) AS BIGINT) AS html_chars,
               trim(regexp_replace(decoded, '[ \\t\\n\\r\\f]+', ' ', 'g'))
                   AS txt
        FROM stripped
    )
    SELECT doc_id, html_chars,
           CAST(length(txt) AS BIGINT) AS text_chars,
           {sql_qround('length(txt) / CAST(html_chars AS DOUBLE)', 6)}
             AS text_to_markup,
           substr(txt, 1, 32) AS clean_prefix
    FROM clean
    """,
)
def llm_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML → text extraction, the step a scraped corpus runs BEFORE
    llm_normalize_text (C4/CommonCrawl preprocessing): drop
    script/style blocks wholesale, strip remaining tags, decode the
    five standard entities (AFTER tag stripping, so a decoded '<'
    cannot resurrect a tag; &amp; LAST, so an escaped '&amp;lt;'
    yields the text '&lt;' instead of double-decoding to '<'), collapse
    whitespace, and report the text-to-markup ratio — the
    boilerplate-density signal C4 thresholds pages on. Each document
    is wrapped in a deterministic page skeleton (head with script +
    style, attributed tags, entities, a self-closing tag) because the
    fixture corpus is already clean; the oracle replays the identical
    chain, so a regex that under- or over-strips breaks the value
    hash on clean_prefix/text_chars, not just the ratio.

    Dialect trap pinned as in the rest of this module: Spark's
    regexp_replace replaces all matches by default, DuckDB needs the
    'g' flag; entity decoding uses plain (non-regex) replace on both
    engines. 100 TB shape: pure map-side regexp/replace codegen over
    the scan, zero shuffles, zero Python; ratio denominator is the
    page length, which is strictly positive by construction."""
    docs = load_table(spark, sf_dir, "documents")
    html = F.concat(
        F.lit('<html><head><script type="text/javascript">var x='),
        F.col("doc_id").cast("string"),
        F.lit(";</script><style>.c { color: #fff }</style>"),
        F.lit('</head><body class="c"><h1>Doc &amp; '),
        F.col("doc_id").cast("string"),
        F.lit("</h1><p>"),
        F.col("text"),
        F.lit("</p><br/><span>&lt;tail&gt;</span></body></html>"),
    )
    page = docs.select("doc_id", html.alias("html"))
    decoded = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("html"), _HTML_SCRIPT_RE, ""),
            _HTML_STYLE_RE,
            "",
        ),
        _HTML_TAG_RE,
        "",
    )
    for ent, ch in _HTML_ENTITIES:
        decoded = F.replace(decoded, F.lit(ent), F.lit(ch))
    # explicit class, not \s: Java's \s matches vertical tab \x0b,
    # RE2's does not — the one whitespace-class divergence between
    # the engines; \f IS matched by both and stays in the class
    # (round-6 self-review, both passes)
    txt = F.trim(F.regexp_replace(decoded, "[ \\t\\n\\r\\f]+", " "))
    return page.select(
        "doc_id",
        F.length("html").cast("long").alias("html_chars"),
        F.length(txt).cast("long").alias("text_chars"),
        qround(
            F.length(txt) / F.length("html").cast("double"), 6
        ).alias("text_to_markup"),
        F.substring(txt, 1, 32).alias("clean_prefix"),
    )


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

_EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
_PHONE_RE = "[0-9]{3}-[0-9]{4}"


@query(
    "llm_pii_redact",
    oracle=f"""
    WITH dirty AS (
        SELECT doc_id,
               (text || ' contact user' || CAST(doc_id AS VARCHAR)
                || '@example.com tel 555-'
                || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')) AS raw
        FROM documents
    )
    SELECT doc_id,
           regexp_replace(
               regexp_replace(raw, '{_EMAIL_RE}', '<EMAIL>', 'g'),
               '{_PHONE_RE}', '<PHONE>', 'g') AS clean,
           CAST(len(regexp_extract_all(raw, '{_EMAIL_RE}'))
                + len(regexp_extract_all(raw, '{_PHONE_RE}'))
                AS BIGINT) AS n_pii
    FROM dirty
    """,
)
def llm_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex PII redaction (emails, phone-shaped digit runs) with a
    per-document redaction count — the compliance pass a corpus runs
    before training. Patterns are deliberately simple; production
    swaps in a richer pattern set, the plan shape is identical.

    100 TB shape: map-only regexp codegen over the scan, no shuffle.
    The synthetic email/phone suffix is deterministic from doc_id so
    both engines construct — and redact — the exact same bytes.
    """
    docs = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com tel 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    clean = F.regexp_replace(
        F.regexp_replace(raw, _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    # idx=0 (whole match): Spark defaults the group index to 1, DuckDB
    # to 0 — these patterns have no capture groups, so 0 on both sides
    n_pii = (
        F.size(F.regexp_extract_all(raw, F.lit(_EMAIL_RE), F.lit(0)))
        + F.size(F.regexp_extract_all(raw, F.lit(_PHONE_RE), F.lit(0)))
    ).cast("long")
    return docs.select(
        "doc_id", clean.alias("clean"), n_pii.alias("n_pii")
    )


# ---------------------------------------------------------------------------
# Repetition ratio (Gopher-style quality signal)
# ---------------------------------------------------------------------------


@query(
    "llm_repetition_ratio",
    oracle=f"""
    WITH words AS (
        SELECT doc_id, unnest(str_split(text, ' ')) AS word
        FROM documents
    ),
    counts AS (
        SELECT doc_id, word, COUNT(*) AS n
        FROM words WHERE word <> '' GROUP BY doc_id, word
    )
    SELECT doc_id,
           CAST(SUM(n) AS BIGINT) AS n_words,
           {sql_qround("CAST(MAX(n) AS DOUBLE) / SUM(n)", 6)}
               AS top_word_share
    FROM counts GROUP BY doc_id
    """,
)
def llm_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most-frequent-word share per document — the repetition filter
    from Gopher-style quality rules (docs dominated by one token are
    boilerplate/spam). Two hash aggregates, both map-side combined;
    the shuffle carries (doc_id, word, partial n) then (doc_id,
    partials) — never raw text.

    qround (floor-form), not ROUND: the share is a ratio (e.g. 7/40)
    that can sit exactly on a rounding boundary (repo working-notes invariant).
    """
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return counts.groupBy("doc_id").agg(
        F.sum("n").alias("n_words"),
        qround(F.max("n").cast("double") / F.sum("n"), 6).alias(
            "top_word_share"
        ),
    )


# ---------------------------------------------------------------------------
# Domain mixing weights
# ---------------------------------------------------------------------------


@query(
    "llm_mix_weights",
    oracle=f"""
    WITH src AS (
        SELECT source,
               CAST(SUM(len(str_split(text, ' '))) AS BIGINT) AS toks
        FROM documents GROUP BY source
    )
    SELECT source, toks,
           {sql_qround("SQRT(toks) / _tot", 6)} AS weight
    FROM src
    CROSS JOIN (SELECT SUM(SQRT(toks)) AS _tot FROM src) t
    """,
)
def llm_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled domain sampling weights: w_s ∝ n_s^0.5
    (alpha=0.5 flattens the source distribution, the standard
    pretraining-mixture trick). Output feeds `llm_sample_stratified` /
    `llm_cap_per_source` as the target mixture.

    100 TB shape: one map-side-combined aggregate down to |sources|
    rows, then a broadcast 1-row crossJoin for the normalizer — NOT an
    un-partitioned window (banned by the plan-contract sweep) and NOT
    a driver-side collect. The whole thing is one lazy plan.
    """
    docs = load_table(spark, sf_dir, "documents")
    src = docs.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).cast("long").alias("toks")
    )
    tot = src.agg(F.sum(F.sqrt("toks")).alias("_tot"))
    return (
        src.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "toks",
            qround(F.sqrt("toks") / F.col("_tot"), 6).alias("weight"),
        )
    )


# ---------------------------------------------------------------------------
# URL parsing / canonicalization
# ---------------------------------------------------------------------------


@query(
    "fn_url_parse",
    oracle="""
    WITH u AS (
        SELECT o_orderkey,
               ('https://www.shop' || CAST(o_custkey % 50 AS VARCHAR)
                || '.example.com/cat/' || CAST(o_orderkey % 97 AS VARCHAR)
                || '?utm_source=src' || CAST(o_orderkey % 7 AS VARCHAR)
                || '&id=' || CAST(o_orderkey AS VARCHAR)) AS url
        FROM orders
    )
    SELECT o_orderkey,
           regexp_extract(url, '^https://([^/]+)', 1) AS host,
           regexp_extract(url, '^https://[^/]+([^?]*)', 1) AS path,
           regexp_extract(url, '[?&]id=([^&]*)', 1) AS id_param,
           regexp_extract(url, '^https://([^/]+)', 1)
               || regexp_extract(url, '^https://[^/]+([^?]*)', 1)
               AS canonical
    FROM u
    """,
)
def fn_url_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL structural parsing + canonicalization — the web-corpus
    curation primitive (URL-level dedup keys on host+path with
    tracking params stripped). Spark side uses the built-in
    ``parse_url`` (JVM java.net.URI-backed); the oracle replays the
    same extraction with anchored regexes — identical on well-formed
    URLs, which the deterministic synthesis guarantees.

    100 TB shape: map-only expression chain over the scan, no shuffle,
    no Python. URLs are synthesized from order keys because the
    fixtures carry no URL column.
    """
    orders = load_table(spark, sf_dir, "orders")
    url = F.concat(
        F.lit("https://www.shop"),
        (F.col("o_custkey") % 50).cast("string"),
        F.lit(".example.com/cat/"),
        (F.col("o_orderkey") % 97).cast("string"),
        F.lit("?utm_source=src"),
        (F.col("o_orderkey") % 7).cast("string"),
        F.lit("&id="),
        F.col("o_orderkey").cast("string"),
    )
    host = F.parse_url(url, F.lit("HOST"))
    path = F.parse_url(url, F.lit("PATH"))
    return orders.select(
        "o_orderkey",
        host.alias("host"),
        path.alias("path"),
        F.parse_url(url, F.lit("QUERY"), F.lit("id")).alias("id_param"),
        F.concat(host, path).alias("canonical"),
    )


# ---------------------------------------------------------------------------
# Batch sessionization
# ---------------------------------------------------------------------------


@query(
    "ts_sessionize",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL 4 HOUR
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT user_id, ts,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_idx
        FROM flagged
    )
    SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
           COUNT(*) AS n_events,
           MIN(ts) AS session_start, MAX(ts) AS session_end
    FROM sess GROUP BY user_id, session_idx
    """,
)
def ts_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based batch sessionization: a new session starts when a
    user's inter-event gap exceeds 4 hours — the batch twin of the
    streaming ``stream_session`` (session_window) operator, via the
    classic lag-flag + running-sum decomposition.

    100 TB shape: ONE shuffle on user_id serves both windows AND the
    final group-by (same partitioning — Catalyst reuses the exchange);
    per-user state is a sort, never a cross product. Skewed power
    users are bounded by their own event count, and AQE handles the
    stragglers.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.col("ts")
                > F.lag("ts").over(w) + F.expr("INTERVAL 4 HOURS")
            ),
            1,
        )
        .otherwise(0)
        .alias("new_s"),
    )
    sess = flagged.select(
        "user_id",
        "ts",
        F.sum("new_s")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("session_idx"),
    )
    return sess.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


# ---------------------------------------------------------------------------
# Context-window chunking
# ---------------------------------------------------------------------------

_CHUNK_SIZE = 50  # tokens per chunk
_CHUNK_STRIDE = 40  # overlap = size - stride = 10


@query(
    "llm_chunk_documents",
    oracle="""
    WITH t AS (SELECT doc_id, str_split(text, ' ') AS toks FROM documents),
    n AS (
        SELECT doc_id, toks,
               greatest(1, CAST(floor((len(toks) - 11) / 40.0) AS BIGINT) + 1)
                 AS n_chunks
        FROM t
    )
    SELECT doc_id, CAST(i AS INT) AS chunk_idx,
           array_to_string(toks[(i-1)*40+1 : (i-1)*40+50], ' ') AS chunk_text,
           CAST(len(toks[(i-1)*40+1 : (i-1)*40+50]) AS BIGINT) AS n_tokens
    FROM n, unnest(generate_series(1, n_chunks)) AS u(i)
    """,
)
def llm_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window context chunking: split each document into
    50-token chunks with a 40-token stride (10-token overlap), the
    standard pre-tokenization step for fixed-context-window training
    and for embedding long documents.

    Chunk count is pure integer arithmetic —
    ``max(1, floor((n_tokens - overlap - 1) / stride) + 1)`` — never
    ``ceil(log/division)`` floats, so Spark and the oracle can't
    disagree by one ulp at a chunk boundary. ``slice`` clamps at the
    array end on both engines, so the last chunk is naturally short.

    100 TB shape: explode(sequence(1, n_chunks)) is a narrow map-side
    op — no shuffle at all; output rows ≈ input tokens / stride. The
    generated chunk inherits the parent's partitioning, so a
    downstream embed/tokenize stage starts co-located."""
    t = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    n = t.withColumn(
        "n_chunks",
        F.greatest(
            F.lit(1).cast("long"),
            F.floor(
                (F.size("toks") - F.lit(_CHUNK_SIZE - _CHUNK_STRIDE + 1))
                / F.lit(float(_CHUNK_STRIDE))
            )
            + 1,
        ).cast("int"),
    )
    chunk = F.expr(
        f"slice(toks, (chunk_idx-1)*{_CHUNK_STRIDE}+1, {_CHUNK_SIZE})"
    )
    return (
        n.select(
            "doc_id",
            "toks",
            F.explode(F.sequence(F.lit(1), F.col("n_chunks"))).alias(
                "chunk_idx"
            ),
        )
        .select(
            "doc_id",
            "chunk_idx",
            F.concat_ws(" ", chunk).alias("chunk_text"),
            F.size(chunk).cast("bigint").alias("n_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Corpus n-gram frequencies
# ---------------------------------------------------------------------------


@query(
    "llm_ngram_counts",
    oracle="""
    WITH g AS (
        SELECT unnest(list_transform(
                 generate_series(1, len(str_split(text, ' ')) - 2),
                 i -> str_split(text, ' ')[i] || ' ' ||
                      str_split(text, ' ')[i+1] || ' ' ||
                      str_split(text, ' ')[i+2])) AS gram
        FROM documents
    )
    SELECT gram, CAST(COUNT(*) AS BIGINT) AS n
    FROM g GROUP BY gram
    ORDER BY n DESC, gram LIMIT 20
    """,
)
def llm_ngram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 corpus word-trigrams — the n-gram frequency table behind
    contamination screens, boilerplate detection, and classic LM
    smoothing baselines.

    Occurrence counts (NOT per-doc distinct): every trigram instance
    counts. Ties broken by gram text so the top-k is deterministic.

    100 TB shape: explode → hash aggregate with map-side combine (the
    shuffle carries (gram, partial_count), a tiny fraction of the
    exploded stream), then TakeOrdered top-k on the driver — no global
    sort of the full frequency table."""
    from etl_geonames_spark.operators.llm import _shingles

    return (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.split("text", " ").alias("toks"))
        .select(F.explode(_shingles("toks", 3)).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "gram")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Sequence-length bucketing
# ---------------------------------------------------------------------------

_LEN_BUCKETS = [64, 128, 256, 512, 1024, 2048, 4096]


@query(
    "llm_bucket_by_length",
    oracle="""
    WITH t AS (
        SELECT doc_id, len(str_split(text, ' ')) AS nt FROM documents
    ),
    b AS (
        SELECT doc_id, nt,
               CASE WHEN nt <= 64 THEN 64 WHEN nt <= 128 THEN 128
                    WHEN nt <= 256 THEN 256 WHEN nt <= 512 THEN 512
                    WHEN nt <= 1024 THEN 1024 WHEN nt <= 2048 THEN 2048
                    WHEN nt <= 4096 THEN 4096 ELSE 8192 END AS bucket
        FROM t
    )
    SELECT bucket, COUNT(*) AS n_docs,
           CAST(SUM(nt) AS BIGINT) AS total_tokens,
           FLOOR((1.0 - CAST(SUM(nt) AS DOUBLE) / (COUNT(*) * bucket))
                 * 1000000.0 + 0.5) / 1000000.0 AS pad_waste
    FROM b GROUP BY bucket
    """,
)
def llm_bucket_by_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length bucketing: assign each document to the smallest
    power-of-two context bucket that holds it, and report per-bucket
    document count, token total, and padding waste (the fraction of a
    padded batch that would be pad tokens).

    The bucket is a CASE chain over the fixed bucket ladder, NOT
    ``2^ceil(log2(nt))`` — floating-point log2 can land one ulp below
    an exact power and flip the bucket differently per engine.

    100 TB shape: one hash aggregate over ≤8 groups — map-side combine
    reduces each partition to ≤8 rows before the (trivial) shuffle."""
    nt = F.size(F.split("text", " "))
    bucket = F.lit(8192)
    for b in reversed(_LEN_BUCKETS):
        bucket = F.when(nt <= b, b).otherwise(bucket)
    return (
        load_table(spark, sf_dir, "documents")
        .select(nt.alias("nt"), bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nt").cast("bigint").alias("total_tokens"),
        )
        .withColumn(
            "pad_waste",
            qround(
                F.lit(1.0)
                - F.col("total_tokens").cast("double")
                / (F.col("n_docs") * F.col("bucket")),
                6,
            ),
        )
        .select("bucket", "n_docs", "total_tokens", "pad_waste")
    )


@query(
    "llm_token_entropy",
    oracle="""
    WITH counts AS (
      SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS c FROM (
        SELECT doc_id, unnest(str_split(text, ' ')) AS word FROM documents
      ) t WHERE word <> '' GROUP BY doc_id, word
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_unique,
           FLOOR(
             (LN(CAST(SUM(c) AS DOUBLE))
              - SUM(c * LN(CAST(c AS DOUBLE))) / CAST(SUM(c) AS DOUBLE))
             * 1000000.0 + 0.5) / 1000000.0 AS entropy
    FROM counts GROUP BY doc_id
    """,
)
def llm_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon entropy of the token distribution (nats) —
    the classic low-diversity filter: word-salad scores high, repeated
    boilerplate ("click here click here ...") scores near zero, and it
    complements the top-word share of ``llm_repetition_ratio`` by
    seeing the WHOLE distribution, not just the mode.

    Algebra: −Σ (c/n)·ln(c/n)  =  ln n − (Σ c·ln c)/n, which needs no
    per-term division — two map-side-combined hash aggregates (token
    counts, then one row per doc), no window, no broadcast. The ln-sum
    accumulates in engine-dependent order, so the result is qround-
    quantized on both sides.
    """
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n = F.sum("c").cast("double")
    return counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_unique"),
        qround(
            F.log(n) - F.sum(F.col("c") * F.log(F.col("c").cast("double"))) / n,
            6,
        ).alias("entropy"),
    )


@query(
    "llm_renyi_efficiency",
    oracle="""
    WITH counts AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS c FROM (
        SELECT unnest(str_split(text, ' ')) AS word FROM documents
      ) t WHERE word <> '' GROUP BY word
    ),
    agg AS (
      SELECT COALESCE(CAST(SUM(c) AS BIGINT), CAST(0 AS BIGINT))
                 AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS vocab_size,
             COALESCE(CAST(SUM(c * c) AS BIGINT), CAST(0 AS BIGINT))
                 AS sum_sq,
             CASE WHEN COUNT(*) > 0 THEN
                 FLOOR((2 * LN(CAST(SUM(c) AS DOUBLE))
                        - LN(CAST(SUM(c * c) AS DOUBLE)))
                       * 1000000.0 + 0.5) / 1000000.0
             END AS renyi2
      FROM counts
    )
    SELECT n_tokens, vocab_size, sum_sq, renyi2,
           CASE WHEN vocab_size > 1 THEN
               FLOOR(renyi2 / LN(CAST(vocab_size AS DOUBLE))
                     * 1000000.0 + 0.5) / 1000000.0
           END AS efficiency
    FROM agg
    """,
)
def llm_renyi_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level Rényi tokenizer efficiency (Zouhar et al. 2023,
    "Tokenization and the Noiseless Channel"): the Rényi entropy of
    the corpus token-frequency distribution, normalized by the
    maximum ln|V| — the published predictor of downstream quality
    when comparing tokenizers (pairs with llm_tokenizer_fertility's
    length lens and llm_token_entropy's per-doc Shannon). KNOWN
    DELTA, documented not silent: the paper recommends α = 2.5, but
    a fractional power is libm pow — banned cross-engine — so this
    op fixes α = 2 (collision entropy), where H₂ = −ln Σp² =
    2·ln C − ln Σc² keeps EVERY log argument an exact int64 (the
    llm_char_entropy_gate all-integer-args discipline; no p = c/C
    ratio ever enters a log). The efficiency ratio divides two
    qround-stable values and is itself a qround(6) value emit; the
    vocab_size > 1 guard keeps ln V out of the denominator at 0.

    Int64 headroom: Σc² stays exact to ~3·10⁹ occurrences of the
    top token; past that the sum moves to DECIMAL(38), documented
    not silent.

    100 TB shape: one map-side-combined token aggregate (the
    llm_wordcount shuffle) then a single-row global reduce — nothing
    else moves."""
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    agg = counts.agg(
        F.coalesce(F.sum("c").cast("long"), F.lit(0).cast("long")).alias(
            "n_tokens"
        ),
        F.count(F.lit(1)).cast("long").alias("vocab_size"),
        F.coalesce(
            F.sum(F.col("c") * F.col("c")).cast("long"),
            F.lit(0).cast("long"),
        ).alias("sum_sq"),
        F.when(
            F.count(F.lit(1)) > 0,
            qround(
                2 * F.log(F.sum("c").cast("double"))
                - F.log(F.sum(F.col("c") * F.col("c")).cast("double")),
                6,
            ),
        ).alias("renyi2"),
    )
    return agg.select(
        "n_tokens",
        "vocab_size",
        "sum_sq",
        "renyi2",
        F.when(
            F.col("vocab_size") > 1,
            qround(
                F.col("renyi2")
                / F.log(F.col("vocab_size").cast("double")),
                6,
            ),
        ).alias("efficiency"),
    )


_BOILER = "subscribe to our newsletter click here to continue reading now"


@query(
    "llm_dedup_paragraphs",
    oracle=f"""
    WITH dirty AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0
                  THEN '{_BOILER} ' || text
                  ELSE text END AS text
      FROM documents
    ),
    t AS (SELECT doc_id, str_split(text, ' ') AS toks FROM dirty),
    chunks AS (
      SELECT doc_id, i,
             array_to_string(toks[(i-1)*10+1 : i*10], ' ') AS chunk
      FROM t, unnest(generate_series(1, (len(toks)+9)//10)) AS u(i)
    ),
    boiler AS (
      SELECT chunk FROM chunks GROUP BY chunk
      HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    kept AS (
      SELECT * FROM chunks WHERE chunk NOT IN (SELECT chunk FROM boiler)
    )
    SELECT d.doc_id,
           COALESCE(string_agg(k.chunk, ' ' ORDER BY k.i), '') AS clean_text,
           CAST(COUNT(k.chunk) AS BIGINT) AS n_chunks_kept
    FROM dirty d LEFT JOIN kept k ON d.doc_id = k.doc_id
    GROUP BY d.doc_id
    """,
)
def llm_dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph/chunk-level boilerplate removal (the C4/RefinedWeb
    pass): split every document into non-overlapping 10-token chunks,
    drop any chunk that appears in ≥2 distinct documents, and rebuild
    the document from its surviving chunks in order.

    This catches what document-level dedup can't: navigation chrome,
    cookie banners, license headers glued onto otherwise-unique pages.
    The fixture is unique word-salad, so a deterministic boilerplate
    sentence is prepended to every third document (same expression on
    both engines); the removal logic is the real operator.

    Scale shape: ONE shuffle of (chunk → doc counts); the repeated-
    chunk set is tiny relative to the corpus (boilerplate by
    definition concentrates), so it broadcasts into a left-anti join —
    the corpus-side chunk stream never shuffles again. Rebuild is a
    per-doc hash aggregate over struct-sorted chunks. At 100 TB, hash
    chunks to 64-bit before the frequency count so the shuffle carries
    longs, not text (the ``llm_dedup_verified`` discipline).
    """
    docs = load_table(spark, sf_dir, "documents")
    dirty = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit(_BOILER + " "), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    t = dirty.select("doc_id", F.split("text", " ").alias("toks"))
    chunks = t.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(1), F.expr("(size(toks) + 9) div 10"))
        ).alias("i"),
        "toks",
    ).select(
        "doc_id",
        "i",
        F.expr("array_join(slice(toks, (i-1)*10+1, 10), ' ')").alias("chunk"),
    )
    boiler = (
        chunks.groupBy("chunk")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("chunk")
    )
    kept = chunks.join(F.broadcast(boiler), "chunk", "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("i", "chunk"))),
                lambda s: s["chunk"],
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_chunks_kept"),
    )
    return (
        dirty.select("doc_id")
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_chunks_kept", F.lit(0))
            .cast("bigint")
            .alias("n_chunks_kept"),
        )
    )


@query(
    "llm_unigram_logprob",
    oracle="""
    WITH wne AS (
      SELECT doc_id, word FROM (
        SELECT doc_id, unnest(str_split(text, ' ')) AS word FROM documents
      ) t WHERE word <> ''
    ),
    vocab AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS c FROM wne GROUP BY word
    ),
    t AS (SELECT CAST(SUM(c) AS DOUBLE) AS total FROM vocab)
    SELECT doc_id,
           FLOOR(AVG(LN(v.c / t.total)) * 1000000.0 + 0.5)
             / 1000000.0 AS avg_logprob
    FROM wne w JOIN vocab v USING (word), t
    GROUP BY doc_id
    """,
)
def llm_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model score: per-document mean log-probability
    under the corpus unigram distribution — the cheap stand-in for the
    KenLM-style perplexity filter every pretraining pipeline runs
    (docs far below the corpus-typical score are boilerplate, far
    above are degenerate repetition).

    Shape: one token-count aggregate builds the vocabulary (vocab-
    sized → broadcasts), total mass is a 1-row broadcast, and the
    scoring pass is a map-side join + per-doc mean — the corpus
    shuffles once for the vocab and once for the per-doc aggregate.
    The vocab table is localCheckpointed: it feeds THREE consumers
    (its own grand total + the broadcast scoring join), and without
    the checkpoint each consumer re-executes the corpus explode
    subplan (4 explode passes measured; 2 is the honest minimum —
    corpus-sized wne itself is recomputed, never cached, which is the
    right call at 100 TB). A real KenLM UDF slots in behind the same
    plan."""
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    wne = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
    )
    vocab = (
        wne.groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(pin)
    )
    total = vocab.agg(F.sum("c").cast("double").alias("total"))
    return (
        wne.join(F.broadcast(vocab), "word")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            qround(F.avg(F.log(F.col("c") / F.col("total"))), 6).alias(
                "avg_logprob"
            )
        )
    )


@query(
    "llm_dataset_card",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(SUM(len(str_split(text, ' '))) AS BIGINT) AS total_tokens,
           FLOOR(AVG(CAST(n_chars AS DOUBLE)) * 10000.0 + 0.5)
             / 10000.0 AS avg_chars
    FROM documents
    """,
)
def llm_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-row dataset card a corpus release ships with: document
    and source/language cardinalities, total token count, average
    document length — the headline numbers of a data statement.

    Single aggregation pass (Catalyst's Expand handles the two
    DISTINCTs in one scan); at 100 TB swap the exact DISTINCTs for
    approx_count_distinct — the row stays one aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("source").alias("n_sources"),
        F.count_distinct("lang").alias("n_langs"),
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias(
            "total_tokens"
        ),
        qround(F.avg(F.col("n_chars").cast("double")), 4).alias("avg_chars"),
    )


@query(
    "llm_mask_tokens",
    oracle="""
    WITH t AS (SELECT doc_id, str_split(text, ' ') AS toks FROM documents),
    m AS (
      SELECT doc_id,
             list_transform(
               toks,
               (x, i) -> CASE WHEN ((doc_id * 31 + i) * 2654435761) % 10 = 0
                              THEN '<mask>' ELSE x END
             ) AS masked
      FROM t
    )
    SELECT doc_id,
           array_to_string(masked, ' ') AS masked_text,
           CAST(len(list_filter(masked, x -> x = '<mask>')) AS BIGINT)
             AS n_masked
    FROM m
    """,
)
def llm_mask_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic token masking (the BERT/T5 denoising-objective
    prep): ~10% of positions masked by a multiplicative hash of
    (doc_id, position) — no RNG, so the same corpus always yields the
    same masks (reproducible training, resumable preprocessing).

    Positional array lambdas on both engines (Spark's transform index
    is 0-based, DuckDB's 1-based — aligned explicitly). Map-only,
    zero shuffles; the mask decision never leaves the codegen stage.
    Fixture tokens are lowercase alphanumeric, so the '<mask>'
    sentinel cannot collide with content."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    masked = F.transform(
        toks,
        lambda x, i: F.when(
            ((F.col("doc_id") * 31 + (i + 1)) * 2654435761) % 10 == 0,
            F.lit("<mask>"),
        ).otherwise(x),
    )
    return docs.select(
        "doc_id",
        F.array_join(masked, " ").alias("masked_text"),
        F.size(F.filter(masked, lambda x: x == "<mask>"))
        .cast("bigint")
        .alias("n_masked"),
    )


@query(
    "llm_vocab_coverage",
    oracle="""
    WITH vocab AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS c FROM (
        SELECT unnest(str_split(text, ' ')) AS word FROM documents
      ) t WHERE word <> '' GROUP BY word
    ),
    total AS (SELECT CAST(SUM(c) AS BIGINT) AS total_tokens FROM vocab),
    top AS (
      SELECT CAST(SUM(c) AS BIGINT) AS top20_tokens
      FROM (SELECT c FROM vocab ORDER BY c DESC, word LIMIT 20) x
    )
    SELECT total.total_tokens, top.top20_tokens,
           FLOOR(top.top20_tokens / CAST(total.total_tokens AS DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0 AS coverage
    FROM total, top
    """,
)
def llm_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage: what fraction of all corpus tokens the 20
    most frequent words account for — the tokenizer-design metric (a
    vocab's coverage curve decides its size / OOV rate trade-off).

    The top-k is sort+limit (TakeOrdered — deliberately NOT a global
    row_number window, which the plan-contract sweep bans); both
    reductions are vocabulary-sized after the one corpus-wide count.
    The vocab table feeds TWO branches (grand total + top-20) — it is
    localCheckpointed so the corpus explode+count runs ONCE, not once
    per branch (the llm_semdedup multi-use lesson, repo working notes); spread()
    parallelizes the tokenize off the single-file fixture partition.
    """
    words = (
        spread(load_table(spark, sf_dir, "documents"), "doc_id")
        .select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
    )
    vocab = (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(pin)
    )
    total = vocab.agg(F.sum("c").cast("bigint").alias("total_tokens"))
    top = (
        vocab.orderBy(F.col("c").desc(), "word")
        .limit(20)
        .agg(F.sum("c").cast("bigint").alias("top20_tokens"))
    )
    return (
        total.crossJoin(F.broadcast(top))
        .select(
            "total_tokens",
            "top20_tokens",
            qround(
                F.col("top20_tokens") / F.col("total_tokens").cast("double"),
                6,
            ).alias("coverage"),
        )
    )


@query(
    "llm_apply_mix_weights",
    oracle="""
    WITH tok AS (
      SELECT source, doc_id,
             CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents
    ),
    persrc AS (
      SELECT source, CAST(SUM(n_tok) AS DOUBLE) AS src_tokens
      FROM tok GROUP BY source
    ),
    norm AS (
      SELECT source, sqrt(src_tokens) /
             (SELECT SUM(sqrt(src_tokens)) FROM persrc) AS w
      FROM persrc
    )
    SELECT t.doc_id, t.source,
           FLOOR(n.w * 1000000.0 + 0.5) / 1000000.0 AS weight
    FROM tok t JOIN norm n USING (source)
    WHERE (t.doc_id * 2654435761) % 1000000 < n.w * 1000000.0
    """,
)
def llm_apply_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the domain-mixture weights: keep each document with
    probability proportional to its source's w ∝ √tokens weight via a
    deterministic hash threshold — the end of the mixing pipeline
    (`llm_mix_weights` computes the weights; this samples with them,
    RNG-free so reruns and resumed jobs keep identical corpora).

    Per-source token mass is one aggregate (source-sized →
    broadcast); the keep decision is a scan-side predicate on the
    hashed key against the broadcast threshold — the corpus never
    shuffles. Same Knuth multiplicative hash as split_train_test, so
    mixture sampling and split assignment stay independent (different
    modulus)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tok"),
    )
    persrc = tok.groupBy("source").agg(
        F.sum("n_tok").cast("double").alias("src_tokens")
    )
    tot = persrc.agg(
        F.sum(F.sqrt("src_tokens")).alias("z")
    )
    norm = persrc.crossJoin(F.broadcast(tot)).select(
        "source", (F.sqrt("src_tokens") / F.col("z")).alias("w")
    )
    return (
        tok.join(F.broadcast(norm), "source")
        .filter(
            (F.col("doc_id") * 2654435761) % 1000000
            < F.col("w") * F.lit(1000000.0)
        )
        .select("doc_id", "source", qround(F.col("w"), 6).alias("weight"))
    )


@query(
    "llm_bigram_logprob",
    oracle="""
    WITH toks AS (SELECT doc_id, str_split(text, ' ') AS t FROM documents),
    bi AS (
      SELECT doc_id, t[i] AS w1, t[i+1] AS w2
      FROM toks, unnest(generate_series(1, len(t) - 1)) AS g(i)
    ),
    cbi AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
            FROM bi GROUP BY w1, w2),
    cun AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1
            FROM bi GROUP BY w1)
    SELECT b.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           FLOOR(AVG(LN(cbi.c12 / CAST(cun.c1 AS DOUBLE)))
                 * 1000000.0 + 0.5) / 1000000.0 AS avg_logprob
    FROM bi b
    JOIN cbi ON b.w1 = cbi.w1 AND b.w2 = cbi.w2
    JOIN cun ON b.w1 = cun.w1
    GROUP BY b.doc_id
    """,
)
def llm_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model score: per-document mean conditional
    log-probability ln p(w2|w1) = ln(c(w1,w2)/c(w1)) under corpus
    counts — one order up from `llm_unigram_logprob` and the actual
    KenLM shape (conditional, not marginal): repetitive continuations
    score high, incoherent ones low, independent of raw word rarity.

    Three hash aggregates over the exploded bigram stream (bigram
    counts, left-context counts, per-doc mean) + two equi joins back
    onto it. The bigram table is the big side at corpus scale — it
    hash-partitions on (w1, w2); the unigram table broadcasts.
    Self-scoring means every observed bigram has a count (no backoff
    branch); scoring a HELD-OUT doc adds the unigram-backoff coalesce
    on the same plan."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    # Guard size(t) < 2: sequence(1, 0) is DESCENDING [1, 0] in Spark
    # (unlike DuckDB's empty generate_series), and under ANSI mode the
    # resulting t[1] access on a 1-element array throws
    # INVALID_ARRAY_INDEX — a single-token doc would crash the query.
    bi = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(t) > 1 THEN"
                " transform(sequence(1, size(t) - 1),"
                " i -> struct(t[i-1] AS w1, t[i] AS w2))"
                " ELSE cast(array() AS array<struct<w1:string,w2:string>>)"
                " END"
            )
        ).alias("b"),
    ).select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    cbi = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    cun = bi.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    scored = (
        bi.join(cbi, ["w1", "w2"])
        .join(F.broadcast(cun), "w1")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            qround(
                F.avg(F.log(F.col("c12") / F.col("c1").cast("double"))), 6
            ).alias("avg_logprob"),
        )
    )
    return scored


# ---------------------------------------------------------------------------
# Rule-based quality gate + perplexity bucketing (session-3 additions)
# ---------------------------------------------------------------------------

_STOPWORDS = (
    "the", "and", "of", "to", "a", "in", "is", "for", "on", "with",
)
_STOP_SQL = ", ".join(f"'{w}'" for w in _STOPWORDS)


# Gopher-gate CTE chain + pass predicate, shared by llm_gopher_quality
# and llm_quality_classifier's training labels (one definition — a
# threshold change propagates to all or none, the _poly_hash_sql rule)
_GOPHER_M_SQL = f"""s AS (
      SELECT doc_id,
             str_split(text, ' ') AS t,
             len(str_split(text, ' ')) AS n_words,
             length(text) AS n_chars
      FROM documents
    ),
    m AS (
      SELECT doc_id, n_words,
             (CAST(n_chars AS DOUBLE) - (n_words - 1)) / n_words
               AS mean_wl,
             CAST(len(list_filter(t, w -> regexp_matches(w, '[a-zA-Z]')))
                  AS DOUBLE) / n_words AS alpha_frac,
             CAST(len(list_filter(t, w -> list_contains([{_STOP_SQL}], w)))
                  AS BIGINT) AS n_stop
      FROM s
    )"""
_GOPHER_PASS_PRED = (
    "(n_words >= 10 AND mean_wl >= 2.0 AND mean_wl <= 12.0"
    " AND alpha_frac >= 0.7 AND n_stop >= 1)"
)


def _gopher_cols():
    """Spark twin of _GOPHER_M_SQL + _GOPHER_PASS_PRED: the Gopher
    gate's (n_words, mean_wl, alpha_frac, n_stop, passes) columns
    over a ``documents`` scan — one definition for the gate query and
    the classifier's labels. mean_wl's operands are exact integers,
    so the float thresholds compare identical doubles cross-engine
    (correctly-rounded int/int division — the reason these
    predicates are oracle-safe without qround)."""
    t = F.split(F.col("text"), " ")
    n_words = F.size(t)
    mean_wl = (
        F.length("text").cast("double") - (n_words - F.lit(1))
    ) / n_words
    alpha_frac = (
        F.expr(
            "size(filter(split(text, ' '), w -> w rlike '[a-zA-Z]'))"
        ).cast("double")
        / n_words
    )
    stop_list = ", ".join(f"'{w}'" for w in _STOPWORDS)
    n_stop = F.expr(
        f"size(filter(split(text, ' '), w -> w IN ({stop_list})))"
    ).cast("bigint")
    passes = (
        (n_words >= 10)
        & (mean_wl >= 2.0)
        & (mean_wl <= 12.0)
        & (alpha_frac >= 0.7)
        & (n_stop >= 1)
    )
    return n_words, mean_wl, alpha_frac, n_stop, passes


@query(
    "llm_gopher_quality",
    oracle=f"""
    WITH {_GOPHER_M_SQL}
    SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
           FLOOR(mean_wl * 1000000.0 + 0.5) / 1000000.0 AS mean_word_len,
           FLOOR(alpha_frac * 1000000.0 + 0.5) / 1000000.0 AS alpha_frac,
           n_stop,
           {_GOPHER_PASS_PRED} AS passes
    FROM m
    """,
)
def llm_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule-based quality gate (the public heuristic set
    of Rae et al. 2021 §A1.1, thresholds adapted to the fixture's
    short synthetic docs): word count, mean word length inside a sane
    band, fraction of words containing an alphabetic character, and
    stop-word presence — the cheap first-pass filter every
    pretraining pipeline runs before any model-based scoring.

    All map-side string/array expressions (mean word length comes
    from total chars minus separators — no explode at all); one
    whole-stage-codegen'd pass over the scan, trivially 100 TB-shaped."""
    docs = load_table(spark, sf_dir, "documents")
    n_words, mean_wl, alpha_frac, n_stop, passes = _gopher_cols()
    return docs.select(
        "doc_id",
        n_words.cast("bigint").alias("n_words"),
        qround(mean_wl, 6).alias("mean_word_len"),
        qround(alpha_frac, 6).alias("alpha_frac"),
        n_stop.alias("n_stop"),
        passes.alias("passes"),
    )


@query(
    "llm_perplexity_buckets",
    oracle="""
    WITH wne AS (
      SELECT doc_id, word FROM (
        SELECT doc_id, unnest(str_split(text, ' ')) AS word FROM documents
      ) t WHERE word <> ''
    ),
    vocab AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS c FROM wne GROUP BY word
    ),
    t AS (SELECT CAST(SUM(c) AS DOUBLE) AS total FROM vocab),
    scored AS (
      SELECT doc_id, AVG(LN(v.c / t.total)) AS lp
      FROM wne w JOIN vocab v USING (word), t
      GROUP BY doc_id
    ),
    b AS (
      SELECT doc_id, lp,
             NTILE(3) OVER (ORDER BY lp, doc_id) AS tercile
      FROM scored
    )
    SELECT doc_id,
           FLOOR(lp * 1000000.0 + 0.5) / 1000000.0 AS avg_logprob,
           CASE tercile WHEN 3 THEN 'head' WHEN 2 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM b
    """,
)
def llm_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): score
    every document with the cheap unigram LM (llm_unigram_logprob's
    plan), then split the corpus into head / middle / tail terciles
    by score — the standard way to keep a quality signal as a COLUMN
    (train on head, sample middle, drop tail) instead of a hard gate.

    NTILE over (score, doc_id) is deterministic across engines, and
    runs through the distributed_ntile decomposition (range
    repartition + per-partition rank + broadcast offsets) — never an
    un-partitioned window, per the repo-wide plan sweep. The vocab
    table (vocab-sized) and the scored table (doc-count-sized) are
    localCheckpointed: each feeds two consumers (vocab: grand total +
    scoring join; scored: ntile's local ranks + its per-partition
    totals), and the lazy form re-executed the whole corpus explode
    per branch — 17 census shuffles → the honest 4. At 100 TB
    the tercile boundaries could also come from approx-quantile
    cutpoints (two numbers broadcast); the exact form costs one
    range exchange over doc-count-sized rows."""
    from etl_geonames_spark.operators.relational import distributed_ntile

    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    wne = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
    )
    vocab = (
        wne.groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(pin)
    )
    total = vocab.agg(F.sum("c").cast("double").alias("total"))
    scored = (
        wne.join(F.broadcast(vocab), "word")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(F.avg(F.log(F.col("c") / F.col("total"))).alias("lp"))
        .transform(pin)
    )
    b = distributed_ntile(
        scored, [F.col("lp"), F.col("doc_id")], 3, "tercile"
    )
    bucket = (
        F.when(F.col("tercile") == 3, F.lit("head"))
        .when(F.col("tercile") == 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return b.select(
        "doc_id",
        qround(F.col("lp"), 6).alias("avg_logprob"),
        bucket.alias("bucket"),
    )


@query(
    "llm_bpe_pair_counts",
    oracle="""
    WITH words AS (
      SELECT unnest(str_split(text, ' ')) AS w FROM documents
    ),
    pairs AS (
      SELECT substr(w, gi.i, 2) AS pair
      FROM words,
           LATERAL unnest(generate_series(1, length(w) - 1)) AS gi(i)
      WHERE length(w) >= 2
    )
    SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
    FROM pairs GROUP BY pair ORDER BY n DESC, pair LIMIT 20
    """,
)
def llm_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first step of BPE tokenizer training: corpus-wide adjacent
    character-pair frequencies (with word multiplicity), top-20 — the
    pair the first merge rule would fuse. Iterated training re-runs
    this count after each merge; the per-iteration plan is exactly
    this one.

    Explode to (word, offset) → substr pair → ONE map-side-combined
    hash aggregate over a pair-cardinality-sized key space (≤ |Σ|²) →
    TakeOrdered top-k, never a global sort. Ties at the cut break on
    the pair string identically in both engines."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(F.explode(F.split("text", " ")).alias("w")).filter(
        F.length("w") >= 2
    )
    pairs = words.select(
        F.expr(
            "explode(transform(sequence(1, length(w) - 1),"
            " i -> substring(w, i, 2)))"
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "pair")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Tokenizer fertility
# ---------------------------------------------------------------------------


@query(
    "llm_tokenizer_fertility",
    oracle=f"""
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(str_split(text, ' '))) AS BIGINT) AS total_tokens,
           {sql_qround(
               "SUM(len(str_split(text, ' ')))"
               " / CAST(SUM(n_chars) AS DOUBLE) * 100.0",
               4,
           )} AS tokens_per_100_chars
    FROM documents GROUP BY lang
    """,
)
def llm_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer fertility (tokens emitted per 100 source
    characters) — the first thing you audit when a tokenizer is
    suspected of over-segmenting one language (CJK blowing up to
    byte-fallback, say): fertility spikes show exactly where the token
    budget is being burned.

    Whitespace tokens over the repo's standard ``split(text, ' ')``
    tokenizer vs the stored ``n_chars``; ratio of two SUMs, not an AVG
    of ratios, so long documents weigh in proportionally.

    100 TB shape: one map-side-combined hash aggregate to ≤ |langs|
    rows — the shuffle carries three partial sums per language."""
    docs = load_table(spark, sf_dir, "documents")
    nt = F.size(F.split("text", " "))
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(nt).cast("bigint").alias("total_tokens"),
        qround(
            F.sum(nt) / F.sum("n_chars").cast("double") * F.lit(100.0), 4
        ).alias("tokens_per_100_chars"),
    )


# ---------------------------------------------------------------------------
# Duplicated n-gram spans (substring-level dedup signal)
# ---------------------------------------------------------------------------


@query(
    "llm_ngram_span_dedup",
    oracle="""
    WITH t AS (SELECT doc_id, str_split(text, ' ') AS tk FROM documents),
    g AS (
        SELECT doc_id,
               unnest(list_transform(
                   generate_series(1, len(tk) - 7),
                   i -> array_to_string(tk[i:i+7], ' '))) AS gram
        FROM t WHERE len(tk) >= 8
    )
    SELECT gram, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_occ
    FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
    ORDER BY n_docs DESC, n_occ DESC, gram LIMIT 50
    """,
)
def llm_ngram_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated 8-gram spans — the substring-level
    dup signal behind span-dedup of training corpora (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): a
    span repeated across documents is boilerplate/template text that
    whole-document dedup never sees. Doc-level MinHash (llm_dedup_minhash)
    misses a license header pasted into thousands of otherwise-distinct
    files; this query surfaces exactly those spans.

    Fixed n=8 whitespace-token windows (the paper's 50-token threshold
    scaled to the fixture doc lengths), ``_shingles``-guarded for short
    docs (ANSI: sequence(1,0) counts DOWN — see llm.py). Spans kept when
    seen in ≥ 2 distinct documents; top-50 by (n_docs, n_occ, gram) so
    the cut is deterministic.

    100 TB shape: explode → one hash aggregate (map-side combine makes
    the shuffle carry (gram, partial) pairs, tiny vs the exploded
    stream) → TakeOrdered top-k on the driver. At full scale the gram
    string is replaced by xxhash64(gram) so the shuffle moves 8 bytes
    per span — same plan, narrower rows."""
    from etl_geonames_spark.operators.llm import _shingles

    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    grams = docs.select(
        "doc_id", F.split("text", " ").alias("toks")
    ).select("doc_id", F.explode(_shingles("toks", 8)).alias("gram"))
    return (
        grams.groupBy("gram")
        .agg(
            F.count_distinct("doc_id").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occ"),
        )
        .where(F.col("n_docs") >= 2)
        .orderBy(F.col("n_docs").desc(), F.col("n_occ").desc(), "gram")
        .limit(50)
    )


@query(
    "llm_source_overlap",
    oracle="""
    WITH t AS (SELECT source, str_split(text, ' ') AS tk FROM documents),
    g AS (
        SELECT DISTINCT source,
               unnest(list_transform(
                   generate_series(1, len(tk) - 7),
                   i -> array_to_string(tk[i:i+7], ' '))) AS gram
        FROM t WHERE len(tk) >= 8
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(COUNT(*) AS BIGINT) AS shared_ngrams
    FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
    GROUP BY 1, 2
    """,
)
def llm_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cross-source contamination matrix: for every source
    pair, how many distinct 8-gram spans they share. The
    mixture-design companion to llm_decontaminate — before weighting
    sources (llm_mix_weights) you want to know which "independent"
    sources are actually mirrors of each other.

    DISTINCT (source, gram) first, THEN the gram self-join: the join
    fan-out per gram is bounded by |sources|, never by occurrence
    counts — a span repeated 10^6 times in two crawls still
    contributes one candidate pair. Equi-join on the gram key (hash
    partitioned), source_a < source_b halves the matrix and kills
    self-pairs.

    100 TB shape: the distinct is one shuffle keyed on (source, gram);
    the self-join shuffles once on gram; with |sources| in the
    hundreds the pair aggregate is broadcast-sized. Hash the gram to
    8 bytes at scale, same plan."""
    from etl_geonames_spark.operators.llm import _shingles

    docs = load_table(spark, sf_dir, "documents")
    # the distinct gram table is BOTH sides of the self-join —
    # localCheckpoint so the explode+shingle+distinct subplan runs
    # once, not per side (at 100 TB swap for a persisted table; the
    # join itself stays one gram-keyed shuffle either way)
    g = (
        spread(docs, "doc_id")
        .select("source", F.split("text", " ").alias("toks"))
        .select("source", F.explode(_shingles("toks", 8)).alias("gram"))
        .distinct()
        .transform(pin)
    )
    a = g.alias("a")
    b = g.alias("b")
    return (
        a.join(
            b,
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("shared_ngrams"))
    )


@query(
    "llm_zipf_slope",
    oracle=f"""
    WITH wc AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS n FROM (
            SELECT unnest(str_split(text, ' ')) AS word FROM documents
        ) t WHERE word <> '' GROUP BY word
    ),
    r AS (
        SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, word) AS rank
        FROM wc
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vocab,
           {sql_qround(
               "regr_slope(ln(CAST(n AS DOUBLE)),"
               " ln(CAST(rank AS DOUBLE)))",
               4,
           )} AS zipf_slope,
           {sql_qround(
               "regr_r2(ln(CAST(n AS DOUBLE)),"
               " ln(CAST(rank AS DOUBLE)))",
               4,
           )} AS r2
    FROM r
    """,
)
def llm_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit over the corpus word-frequency table: OLS slope
    of log-frequency vs log-rank (natural text sits near −1; the
    synthetic fixture's flat vocabulary sits near 0 — exactly what
    the diagnostic exists to expose). Corpus-health check run before
    tokenizer training: a truncated or template-heavy crawl bends
    the rank-frequency line visibly.

    Needs a GLOBAL frequency rank, which is banned as a naive global
    window — this goes through relational.distributed_rank (range
    repartition + per-partition row_number + broadcast offsets, the
    whitelisted decomposition), then ONE mergeable regression
    aggregate over (ln n, ln rank). Ties rank deterministically by
    (freq DESC, word).

    100 TB shape: the rank machinery is the scalable part — the
    vocab table range-partitions across the cluster and no partition
    ever sees more than its share; the regression moments are
    map-side combined into one row."""
    from etl_geonames_spark.operators.relational import distributed_rank

    wc = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    ranked = distributed_rank(
        wc, [F.col("n").desc(), F.col("word")]
    ).select(
        F.log(F.col("n").cast("double")).alias("ln_n"),
        F.log(F.col("_grn").cast("double")).alias("ln_rank"),
    )
    return ranked.agg(
        F.count(F.lit(1)).alias("n_vocab"),
        qround(F.regr_slope("ln_n", "ln_rank"), 4).alias("zipf_slope"),
        qround(F.regr_r2("ln_n", "ln_rank"), 4).alias("r2"),
    )


_TOPP_PS = [0.5, 0.9, 0.99]


@query(
    "llm_topp_vocab",
    oracle=f"""
    WITH wc AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS n FROM (
            SELECT unnest(str_split(text, ' ')) AS word FROM documents
        ) t WHERE word <> '' GROUP BY word
    ),
    c AS (
        SELECT word, n,
               SUM(n) OVER (ORDER BY n DESC, word
                            ROWS UNBOUNDED PRECEDING) AS cum,
               ROW_NUMBER() OVER (ORDER BY n DESC, word) AS rank,
               SUM(n) OVER () AS total
        FROM wc
    ),
    p(p, num) AS (VALUES {", ".join(
        f"({p}, CAST({int(round(p * 100))} AS BIGINT))"
        for p in _TOPP_PS
    )})
    SELECT p.p AS p, CAST(MIN(c.rank) AS BIGINT) AS cutoff_rank,
           CAST(MAX(c.total) AS BIGINT) AS total_tokens
    FROM p JOIN c ON c.cum * 100 >= p.num * c.total
    GROUP BY p.p
    """,
)
def llm_topp_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-p (nucleus) vocabulary cutoffs: the smallest frequency-
    ranked vocab prefix covering 50 / 90 / 99 % of all token
    occurrences — the number that decides tokenizer vocab size and
    how much of the stream a cache of the head covers (Zipf's
    practical consequence; llm_zipf_slope measures the law, this
    measures the budget).

    Needs a GLOBAL ordered running sum, which is exactly the banned
    single-task window — so it runs on
    relational.distributed_rank_cumsum: range repartition + ONE
    per-partition window computing local rank and local prefix sum
    together + broadcast per-partition offsets. The fused primitive
    (built round 5 for ACF/best-split) replaces the earlier
    distributed_rank + distributed_cumsum pair, which re-executed the
    whole vocab subplan per call; and the grand total comes from the
    SAME per-partition totals table (`_total_s`) rather than a second
    corpus-scanning aggregate — the repo's global-anchor discipline
    (cf. agg_theil_index). One broadcast of 3 p-values turns cutoff
    selection into a tiny join + MIN aggregate.

    100 TB shape: everything keyed or metadata-sized; no partition
    ever holds more than its range of the vocab."""
    from etl_geonames_spark.operators.relational import (
        distributed_rank_cumsum,
    )

    # vocab-sized and consumed by BOTH branches inside the primitive
    # (the ranked rows and the per-partition totals) — checkpoint so
    # the corpus explode+count runs once, not once per branch;
    # spread() parallelizes the tokenize off the single fixture file
    wc = (
        spread(load_table(spark, sf_dir, "documents"), "doc_id")
        .select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .transform(pin)
    )
    key = [F.col("n").desc(), F.col("word")]
    cum = distributed_rank_cumsum(wc, key, "n")
    ps = spark.createDataFrame(
        [(float(p), int(round(p * 100))) for p in _TOPP_PS],
        "p double, num bigint",
    )
    # the cutoff predicate is ALL-INTEGER (cum·100 ≥ num·total): a
    # double p·total threshold evaluates differently from DuckDB's
    # exact-DECIMAL literals right at the boundary (0.9·10 =
    # 9.000000000000002 in binary — the float-threshold rule)
    joined = cum.join(
        F.broadcast(ps),
        F.col("_gcs") * 100 >= F.col("num") * F.col("_total_s"),
    )
    return joined.groupBy("p").agg(
        F.min("_grn").cast("bigint").alias("cutoff_rank"),
        F.max("_total_s").cast("bigint").alias("total_tokens"),
    )


_FH_P = 1_000_003
_FH_DIMS = 32


def poly_hash(word):
    """Cross-engine deterministic string hash: Horner fold
    h ← (31·h + codepoint) mod P over the characters — the textbook
    polynomial rolling hash, expressed with aggregate() so BOTH
    engines run the identical sequential arithmetic (unlike
    xxhash64, which only Spark has — this is the building block that
    lets string-keyed randomized ops be oracle-checked exactly)."""
    return F.aggregate(
        F.transform(
            F.sequence(F.lit(1), F.length(word)),
            lambda i: F.ascii(word.substr(i, F.lit(1))).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * 31 + c) % _FH_P,
    )


def _poly_hash_sql(expr: str) -> str:
    """DuckDB twin of :func:`poly_hash` over an arbitrary string
    expression — ONE definition for every oracle that hashes strings
    (llm_feature_hashing, llm_dsir_weights), so a fix to the fold
    propagates to all or none (the _MIDRANK_SQL pattern). The fold
    variable is _ci, NOT i: callers inline ``expr`` containing their
    own unnest/lambda indices named i, which a same-named inner
    lambda variable would silently shadow (cost a debug cycle —
    every char position hashed a different bigram)."""
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT),"
        f" list_transform(generate_series(1, len({expr})),"
        f" _ci -> CAST(ascii(substr({expr}, _ci, 1)) AS BIGINT))),"
        f" (acc, c) -> (acc * 31 + c) % {_FH_P})"
    )


# hashed-feature CTE chain (ends at ``feats``: doc_id, dim, n) shared
# by llm_feature_hashing and llm_quality_classifier
_FH_FEATS_SQL = f"""w AS (
        SELECT doc_id, unnest(str_split(text, ' ')) AS word
        FROM documents
    ),
    h AS (
        SELECT doc_id, {_poly_hash_sql("word")} AS ph
        FROM w WHERE word <> ''
    ),
    feats AS (
        SELECT doc_id, CAST(ph % {_FH_DIMS} AS INT) AS dim,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM h GROUP BY doc_id, dim
    )"""


def hashed_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine twin of _FH_FEATS_SQL — the (doc_id, dim, n) hashed
    bag-of-words table llm_feature_hashing registers and
    llm_quality_classifier trains on (shared code, shared oracle
    fragment: the two can never disagree about the feature space)."""
    w = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
    )
    ph = poly_hash(F.col("word"))
    return (
        w.select("doc_id", (ph % _FH_DIMS).cast("int").alias("dim"))
        .groupBy("doc_id", "dim")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "llm_feature_hashing",
    oracle=f"""
    WITH {_FH_FEATS_SQL}
    SELECT doc_id, dim, n FROM feats
    """,
)
def llm_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick (Weinberger et al. 2009): fixed-32-dim
    bag-of-words features per document with NO vocabulary pass —
    each token maps straight to dim = polyhash(word) mod 32. The
    no-global-state featurizer for linear probes/classifiers over
    unbounded vocabularies; collisions are the accepted trade.

    The hash is a Horner polynomial fold both engines replay
    bit-identically (see :func:`poly_hash`) — so unlike the
    xxhash64-based dedup family this randomized op gets a FULL
    value-hash oracle, not a rows-only check.

    100 TB shape: explode → map-side hash → ONE combined aggregate
    on (doc_id, dim): shuffle rows are bounded by docs×32
    regardless of document length — the whole point of hashed
    features vs vocabulary joins."""
    return hashed_features(spark, sf_dir)


# full IRLS CTE chain (ends at ``w2t``: dim, support, w1, w1q,
# w2_raw), shared by llm_quality_classifier and llm_classifier_eval —
# the fit and its evaluation can never disagree about the weights
_IRLS_CORE_SQL = f"""{_FH_FEATS_SQL},
    {_GOPHER_M_SQL},
    y AS (
        SELECT doc_id,
               CASE WHEN {_GOPHER_PASS_PRED}
                    THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT)
               END AS y
        FROM m
    ),
    fx AS (
        SELECT doc_id, dim, n FROM feats
        UNION ALL
        SELECT doc_id, CAST({_FH_DIMS} AS INT) AS dim,
               CAST(1 AS BIGINT) AS n
        FROM documents
    ),
    r1 AS (
        SELECT f.dim,
               CAST(SUM(f.n) AS BIGINT) AS support,
               CAST(2 * SUM(f.n * (2 * y.y - 1)) AS BIGINT) AS g1num,
               CAST(SUM(f.n * f.n) AS BIGINT) AS g1den
        FROM fx f JOIN y USING (doc_id) GROUP BY f.dim
    ),
    w1t AS (
        SELECT dim, support,
               CAST(g1num AS DOUBLE) / CAST(g1den AS DOUBLE) AS w1,
               CAST(FLOOR(CAST(g1num AS DOUBLE) / CAST(g1den AS DOUBLE)
                          * 1000000.0 + 0.5) AS BIGINT) AS w1q
        FROM r1
    ),
    z AS (
        SELECT f.doc_id, CAST(SUM(f.n * w.w1q) AS BIGINT) AS z_int
        FROM fx f JOIN w1t w USING (dim) GROUP BY f.doc_id
    ),
    p AS (
        SELECT doc_id,
               CASE WHEN z_int > 30000000 THEN CAST(1000000 AS BIGINT)
                    WHEN z_int < -30000000 THEN CAST(0 AS BIGINT)
                    ELSE CAST(FLOOR(1000000.0
                        / (1.0 + exp(-(CAST(z_int AS DOUBLE)
                                       / 1000000.0))) + 0.5) AS BIGINT)
               END AS pq
        FROM z
    ),
    r2 AS (
        SELECT f.dim,
               CAST(SUM(f.n * (1000000 * y.y - p.pq)) AS BIGINT) AS gnum,
               CAST(SUM(f.n * f.n
                    * CAST(FLOOR(CAST(p.pq * (1000000 - p.pq) AS DOUBLE)
                                 / 1000000.0) AS BIGINT))
                    AS BIGINT) AS hden
        FROM fx f JOIN y USING (doc_id) JOIN p USING (doc_id)
        GROUP BY f.dim
    ),
    w2t AS (
        SELECT w.dim, w.support, w.w1, w.w1q,
               CASE WHEN r2.hden > 0
                    THEN CAST(w.w1q AS DOUBLE) / 1000000.0
                         + CAST(r2.gnum AS DOUBLE)
                           / CAST(r2.hden AS DOUBLE)
                    ELSE CAST(w.w1q AS DOUBLE) / 1000000.0 END AS w2_raw
        FROM w1t w JOIN r2 USING (dim)
    )"""


@query(
    "llm_quality_classifier",
    oracle=f"""
    WITH {_IRLS_CORE_SQL}
    SELECT dim, support,
           {sql_qround('w1', 6)} AS w1,
           {sql_qround('w2_raw', 6)} AS w2
    FROM w2t
    """,
)
def llm_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned quality classifier — a 2-round per-coordinate-Newton
    (diagonal-IRLS) logistic probe over llm_feature_hashing's 32-dim
    hashed bag-of-words (+ intercept dim 32), trained on the Gopher
    gate's pass/fail labels: the fastText-filter stand-in (Joulin et
    al. 2016's linear-probe role; VERDICT r9/r10's named extension).
    Emits per-dim (support, w1, w2) — round-1 and round-2 weights —
    33 rows; llm_quality_score is the hand-tuned heuristic, THIS is
    the trained replacement whose labels can later come from any
    oracle (human ratings, LM judgments) without changing the plan.

    Cross-engine exactness by construction: round 1 starts at w = 0
    where the sigmoid is EXACTLY 1/2, so w1_j = 2·Σx(2y−1)/Σx² is a
    ratio of exact int64s (identical correctly-rounded double both
    engines). Weights snap to the 1e-6 integer grid (w1q), so the
    round-2 logit z = Σ x·w1q is an EXACT int64 sum — order-free.
    The single libm crossing (sigmoid) lands on the 1e-6 grid
    immediately (pq; z clamped to ±30 first — beyond that the
    sigmoid is 0/1 at grid resolution, and DuckDB/Java exp overflow
    semantics never engage), after which gradient Σx(10⁶y − pq) and
    curvature Σx²·⌊pq(10⁶−pq)/10⁶⌋ are again exact int64 — the
    norm_cdf discipline (libm only in immediately-gridded values,
    never in a cross-engine predicate). Saturated cells (hden = 0)
    fall back to w2 = w1, the standard Newton no-op, mirrored with
    CASE. Int64 headroom: terms stay < 2⁶³ to ~10⁹ tokens/dim-pair
    sums at this grid — beyond that, coarsen the h grid or move the
    round-2 sums to DECIMAL(38); documented, not silent.

    100 TB shape: features/labels are each ONE map-side pass; the fx
    table is localCheckpointed (it feeds rounds 1, z, and 2 — the
    multi-consumer rule); every aggregate is keyed on dim (33 groups,
    map-side combined) or doc_id (the z sum — bounded by docs×33
    rows); the 33-row weight table broadcasts. Two Newton rounds is
    the classic IRLS cold-start budget (McCullagh & Nelder 1989) —
    more rounds are the same plan repeated with pq re-gridded."""
    _fx, _y, w2t = _irls_fit(spark, sf_dir)
    return w2t.select(
        "dim",
        "support",
        qround(F.col("w1"), 6).alias("w1"),
        qround(F.col("w2_raw"), 6).alias("w2"),
    )


def _irls_fit(spark: SparkSession, sf_dir: str):
    """Engine twin of _IRLS_CORE_SQL: returns (fx, y, w2t) — the
    checkpointed feature/label tables plus the 33-row weight table
    with RAW round-2 weights (w2_raw) — shared by
    llm_quality_classifier (rounds and emits) and llm_classifier_eval
    (applies the weights back to the corpus)."""
    feats = hashed_features(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    fx = feats.unionByName(
        docs.select(
            "doc_id",
            F.lit(_FH_DIMS).cast("int").alias("dim"),
            F.lit(1).cast("bigint").alias("n"),
        )
    ).transform(pin)
    passes = _gopher_cols()[4]
    y = docs.select(
        "doc_id", passes.cast("long").alias("y")
    ).transform(pin)
    r1 = (
        fx.join(y, "doc_id")
        .groupBy("dim")
        .agg(
            F.sum("n").cast("long").alias("support"),
            (F.lit(2) * F.sum(F.col("n") * (2 * F.col("y") - 1)))
            .cast("long")
            .alias("g1num"),
            F.sum(F.col("n") * F.col("n")).cast("long").alias("g1den"),
        )
    )
    w1d = F.col("g1num").cast("double") / F.col("g1den").cast("double")
    w1t = r1.select(
        "dim",
        "support",
        w1d.alias("w1"),
        F.floor(w1d * F.lit(1000000.0) + F.lit(0.5))
        .cast("long")
        .alias("w1q"),
    )
    z = (
        fx.join(F.broadcast(w1t.select("dim", "w1q")), "dim")
        .groupBy("doc_id")
        .agg(F.sum(F.col("n") * F.col("w1q")).cast("long").alias("z_int"))
    )
    zi = F.col("z_int")
    p = z.select(
        "doc_id",
        F.when(zi > 30000000, F.lit(1000000).cast("long"))
        .when(zi < -30000000, F.lit(0).cast("long"))
        .otherwise(
            F.floor(
                F.lit(1000000.0)
                / (F.lit(1.0) + F.exp(-(zi.cast("double") / F.lit(1000000.0))))
                + F.lit(0.5)
            ).cast("long")
        )
        .alias("pq"),
    )
    hq = F.floor(
        (F.col("pq") * (F.lit(1000000) - F.col("pq"))).cast("double")
        / F.lit(1000000.0)
    ).cast("long")
    r2 = (
        fx.join(y, "doc_id")
        .join(p, "doc_id")
        .groupBy("dim")
        .agg(
            F.sum(F.col("n") * (F.lit(1000000) * F.col("y") - F.col("pq")))
            .cast("long")
            .alias("gnum"),
            F.sum(F.col("n") * F.col("n") * hq).cast("long").alias("hden"),
        )
    )
    base = F.col("w1q").cast("double") / F.lit(1000000.0)
    w2_raw = F.when(
        F.col("hden") > 0,
        base + F.col("gnum").cast("double") / F.col("hden").cast("double"),
    ).otherwise(base)
    w2t = w1t.join(r2, "dim").select(
        "dim", "support", "w1", "w1q", w2_raw.alias("w2_raw")
    )
    return fx, y, w2t


@query(
    "llm_classifier_eval",
    oracle=f"""
    WITH {_IRLS_CORE_SQL},
    w2q AS (
        SELECT dim,
               CAST(FLOOR(w2_raw * 1000000.0 + 0.5) AS BIGINT) AS wq
        FROM w2t
    ),
    z2 AS (
        SELECT f.doc_id, CAST(SUM(f.n * w.wq) AS BIGINT) AS z2
        FROM fx f JOIN w2q w USING (dim) GROUP BY f.doc_id
    ),
    cm AS (
        SELECT
            CAST(SUM(CASE WHEN y.y = 1 AND z2.z2 >= 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS tp,
            CAST(SUM(CASE WHEN y.y = 0 AND z2.z2 >= 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS fp,
            CAST(SUM(CASE WHEN y.y = 0 AND z2.z2 < 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS tn,
            CAST(SUM(CASE WHEN y.y = 1 AND z2.z2 < 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS fn
        FROM z2 JOIN y USING (doc_id)
    )
    SELECT tp, fp, tn, fn,
           {sql_qround(
               "CAST(tp + tn AS DOUBLE) / (tp + fp + tn + fn)", 6
           )} AS accuracy,
           CASE WHEN tp + fp > 0
                THEN {sql_qround("CAST(tp AS DOUBLE) / (tp + fp)", 6)}
           END AS prec,
           CASE WHEN tp + fn > 0
                THEN {sql_qround("CAST(tp AS DOUBLE) / (tp + fn)", 6)}
           END AS rec,
           CASE WHEN 2 * tp + fp + fn > 0
                THEN {sql_qround(
                    "CAST(2 * tp AS DOUBLE) / (2 * tp + fp + fn)", 6
                )}
           END AS f1
    FROM cm
    """,
)
def llm_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-set evaluation of the IRLS quality probe: apply the
    round-2 weights back to every document and report the confusion
    matrix vs the Gopher labels plus accuracy / precision / recall /
    F1 — the readout that tells a pipeline operator whether the
    learned filter actually tracks its training signal before anyone
    swaps the labels for better ones (the fastText-filter workflow's
    sanity gate; pairs with llm_calibration_bins for probability
    quality).

    The decision rule is ALL-INTEGER: sigmoid is monotone, so
    p ≥ 1/2 ⇔ z₂ ≥ 0 where z₂ = Σ x·w2q is an exact int64 sum over
    the 1e-6-grid weights — no sigmoid, no float threshold, no
    cross-engine predicate risk anywhere in this query. F1 is
    computed from counts (2tp/(2tp+fp+fn)) so it needs ONE guard,
    not a precision·recall compose; one-sided corpora NULL the
    undefined ratios via CASE on both engines (the
    stat_fleiss_kappa discipline).

    100 TB shape: _irls_fit's plan (shared, checkpointed) + one
    broadcast of the 33-row gridded weights + one doc-keyed sum +
    a single global aggregate — evaluation costs one corpus pass
    more than training."""
    fx, y, w2t = _irls_fit(spark, sf_dir)
    w2q = w2t.select(
        "dim",
        F.floor(F.col("w2_raw") * F.lit(1000000.0) + F.lit(0.5))
        .cast("long")
        .alias("wq"),
    )
    z2 = (
        fx.join(F.broadcast(w2q), "dim")
        .groupBy("doc_id")
        .agg(F.sum(F.col("n") * F.col("wq")).cast("long").alias("z2"))
    )
    j = z2.join(y, "doc_id")
    pos = F.col("z2") >= 0

    def _cnt(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long")

    cm = j.agg(
        _cnt((F.col("y") == 1) & pos).alias("tp"),
        _cnt((F.col("y") == 0) & pos).alias("fp"),
        _cnt((F.col("y") == 0) & ~pos).alias("tn"),
        _cnt((F.col("y") == 1) & ~pos).alias("fn"),
    )
    tp, fp, tn, fn = (F.col(c) for c in ("tp", "fp", "tn", "fn"))
    return cm.select(
        "tp",
        "fp",
        "tn",
        "fn",
        qround(
            (tp + tn).cast("double") / (tp + fp + tn + fn), 6
        ).alias("accuracy"),
        F.when(
            tp + fp > 0, qround(tp.cast("double") / (tp + fp), 6)
        ).alias("prec"),
        F.when(
            tp + fn > 0, qround(tp.cast("double") / (tp + fn), 6)
        ).alias("rec"),
        F.when(
            2 * tp + fp + fn > 0,
            qround((2 * tp).cast("double") / (2 * tp + fp + fn), 6),
        ).alias("f1"),
    )


@query(
    "llm_pmi_collocations",
    oracle=f"""
    WITH t AS (SELECT str_split(text, ' ') AS tk FROM documents),
    uni AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS n FROM (
            SELECT unnest(tk) AS w FROM t) x
        WHERE w <> '' GROUP BY w
    ),
    tot_u AS (SELECT SUM(n) AS nu FROM uni),
    bi AS (
        SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n FROM (
            SELECT tk[i] AS w1, tk[i+1] AS w2
            FROM t, unnest(generate_series(1, len(tk) - 1)) g(i)
            WHERE len(tk) >= 2) x
        GROUP BY w1, w2
    ),
    tot_b AS (SELECT SUM(n) AS nb FROM bi)
    SELECT b.w1, b.w2, b.n,
           {sql_qround(
               "ln((b.n / CAST(tb.nb AS DOUBLE)) /"
               " ((u1.n / CAST(tu.nu AS DOUBLE))"
               "  * (u2.n / CAST(tu.nu AS DOUBLE))))",
               4,
           )} AS pmi
    FROM bi b
    JOIN uni u1 ON b.w1 = u1.w
    JOIN uni u2 ON b.w2 = u2.w, tot_u tu, tot_b tb
    WHERE b.n >= 5
    ORDER BY pmi DESC, b.w1, b.w2 LIMIT 20
    """,
)
def llm_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 collocations by pointwise mutual information —
    log P(w1,w2) / (P(w1)P(w2)) with a min-count-5 support gate (the
    classic Church & Hanks 1990 recipe): word pairs that co-occur far
    above chance are multi-word expressions ("new york"), exactly
    what tokenizer merge rules and phrase-aware dedup want found.
    The support gate is load-bearing — rare pairs have unboundedly
    inflated PMI (n=1 pairs dominate otherwise).

    Three frequency tables (unigram, bigram, their totals) from ONE
    scan family, then broadcast-joined: the unigram table rides onto
    the bigram aggregate twice. Bigrams are built with the ANSI-
    guarded element_at pattern (sequence(1,0) counts DOWN — the
    llm_bigram_logprob trap, repo working notes).

    100 TB shape: two map-side-combined hash aggregates + broadcast
    of the (post-gate, tiny) dictionary sides; final top-k is
    TakeOrdered. The n≥5 filter cuts the bigram tail BEFORE the
    joins — at web scale that's the difference between a dictionary
    join and a heavy-tail shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    # split ONCE into a projected column — re-splitting inside the
    # transform lambda re-tokenizes per element (measured 6×: 2.5 s
    # vs 0.44 s for this aggregate at sf0.1)
    toks = docs.select(F.split("text", " ").alias("tk"))
    pairs = F.expr(
        "IF(size(tk) >= 2,"
        " transform(sequence(1, size(tk) - 1),"
        "   i -> struct(element_at(tk, i) AS w1,"
        "              element_at(tk, i + 1) AS w2)),"
        " array())"
    )
    # ONE bigram explode+aggregate feeds both the gated table and the
    # pre-gate total (a second explode pass measured ~40% of wall);
    # the aggregate is small enough to pin.
    bi_all = (
        toks.select(F.explode(pairs).alias("p"))
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n"))
        .transform(pin)
    )
    bi = bi_all.where(F.col("n") >= 5)
    uni = (
        toks.select(F.explode("tk").alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("un"))
    )
    tot_u = uni.agg(F.sum("un").alias("nu"))
    tot_b = bi_all.agg(F.sum("n").alias("nb"))
    u1 = uni.select(F.col("w").alias("w1"), F.col("un").alias("n1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("un").alias("n2"))
    pmi = F.log(
        (F.col("n") / F.col("nb").cast("double"))
        / (
            (F.col("n1") / F.col("nu").cast("double"))
            * (F.col("n2") / F.col("nu").cast("double"))
        )
    )
    return (
        bi.join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(tot_u))
        .crossJoin(F.broadcast(tot_b))
        .select("w1", "w2", "n", qround(pmi, 4).alias("pmi"))
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(20)
    )


@query(
    "llm_lm_crossentropy",
    oracle=f"""
    WITH lab AS (
        SELECT doc_id, text,
               CASE WHEN (doc_id * 2654435761) % 100 < 80 THEN 'train'
                    ELSE 'eval' END AS split
        FROM documents
    ),
    tw AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS n FROM (
            SELECT unnest(str_split(text, ' ')) AS w
            FROM lab WHERE split = 'train'
        ) x WHERE w <> '' GROUP BY w
    ),
    v AS (SELECT CAST(COUNT(*) AS BIGINT) AS vsz, SUM(n) AS tot FROM tw),
    ev AS (
        SELECT doc_id, w FROM (
            SELECT doc_id, unnest(str_split(text, ' ')) AS w
            FROM lab WHERE split = 'eval') x
        WHERE w <> ''
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_eval_tokens,
           {sql_qround(
               "AVG(-log2((COALESCE(tw.n, 0) + 1.0)"
               " / (v.tot + v.vsz + 1.0)))",
               4,
           )} AS cross_entropy_bits
    FROM ev LEFT JOIN tw ON ev.w = tw.w, v
    """,
)
def llm_lm_crossentropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The train-LM / evaluate-perplexity loop entirely in-engine:
    add-one-smoothed unigram LM fit on the deterministic 80 % train
    split (SAME Knuth-hash split rule as llm_curate_pipeline — train
    and eval can never overlap), cross-entropy in bits per token on
    the held-out 20 %. 2^(this number) is eval perplexity — the
    end-to-end health check for any data-mixture change: rerun after
    reweighting (llm_apply_mix_weights) and the delta IS the effect
    on a (toy) LM. Unknown eval words get the smoothed floor
    1/(N+V+1) rather than crashing or clamping — the honest OOV
    treatment.

    100 TB shape: the LM "training" is one map-side-combined word
    count; evaluation is a broadcast-or-hash dictionary join + one
    mergeable average. The whole loop is two aggregates and a join —
    which is exactly why unigram perplexity is the cheap canary run
    before real LM training."""
    docs = load_table(spark, sf_dir, "documents")
    split = F.when(
        (F.col("doc_id") * 2654435761) % 100 < 80, F.lit("train")
    ).otherwise(F.lit("eval"))
    lab = docs.select("doc_id", "text", split.alias("split"))
    words = lambda df: (  # noqa: E731
        df.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .where(F.col("w") != "")
    )
    tw = (
        words(lab.where(F.col("split") == "train"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    v = tw.agg(
        F.count(F.lit(1)).alias("vsz"), F.sum("n").alias("tot")
    )
    ev = words(lab.where(F.col("split") == "eval"))
    bits = -F.log2(
        (F.coalesce(F.col("n"), F.lit(0)) + 1.0)
        / (F.col("tot") + F.col("vsz") + 1.0)
    )
    return (
        ev.join(F.broadcast(tw), "w", "left")
        .crossJoin(F.broadcast(v))
        .agg(
            F.count(F.lit(1)).alias("n_eval_tokens"),
            qround(F.avg(bits), 4).alias("cross_entropy_bits"),
        )
    )


_WINNOW_K_WINDOW = 4


@query(
    "llm_winnowing",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               list_filter(str_split(text, ' '), x -> x <> '') AS tk
        FROM documents
    ),
    hashed AS (
        SELECT doc_id,
               list_transform(tk, w ->
                   list_reduce(
                       list_prepend(CAST(0 AS BIGINT),
                           list_transform(generate_series(1, len(w)),
                               i -> CAST(ascii(substr(w, i, 1)) AS BIGINT))),
                       (acc, c) -> (acc * 31 + c) % {_FH_P})) AS hw
        FROM t
    ),
    grams AS (
        SELECT doc_id,
               CASE WHEN len(hw) >= 3 THEN
                   list_transform(generate_series(1, len(hw) - 2),
                       i -> ((hw[i] * 131 + hw[i+1]) % {_FH_P} * 131
                             + hw[i+2]) % {_FH_P})
               ELSE CAST([] AS BIGINT[]) END AS g
        FROM hashed
    ),
    fps AS (
        SELECT doc_id, g,
               CASE WHEN len(g) = 0 THEN CAST([] AS BIGINT[])
                    WHEN len(g) < {_WINNOW_K_WINDOW} THEN [list_min(g)]
                    ELSE list_transform(
                        generate_series(1, len(g) - {_WINNOW_K_WINDOW - 1}),
                        j -> list_min(
                            list_slice(g, j, j + {_WINNOW_K_WINDOW - 1})))
               END AS f
        FROM grams
    )
    SELECT doc_id,
           CAST(len(g) AS BIGINT) AS n_grams,
           CAST(len(list_distinct(f)) AS BIGINT) AS n_fingerprints,
           CAST(list_min(f) AS BIGINT) AS fp_min,
           CAST(list_max(f) AS BIGINT) AS fp_max
    FROM fps
    """,
)
def llm_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every word 3-gram, then
    keep the MINIMUM hash of each sliding window of 4 consecutive
    gram hashes. The guarantee: any shared run of ≥ 3+4-1 tokens
    between two documents yields at least one IDENTICAL selected
    fingerprint, with only ~2/(4+1) of grams kept — the
    position-robust local sampling that plain modulo selection (0 mod
    p) lacks.

    Every hash is the cross-engine Horner polynomial
    (:func:`poly_hash` arithmetic inlined into array expressions), so
    unlike the xxhash64 dedup family this fingerprinting op carries a
    FULL value-hash oracle. Per-doc summary output (gram count,
    selected-set size, min/max fingerprint) keeps the check exact
    without exploding rows; the fingerprint → inverted-index join
    (llm_dedup_ngram's shape) is the downstream pair generator.

    100 TB shape: pure map-side array math — zero shuffles before
    the final (nothing: it is row-per-doc map only); no UDFs, whole
    plan stays in codegen. Short docs degrade gracefully (< window:
    one global min; < gram: empty set) behind CASE guards (ANSI
    sequence() gotcha, repo working notes)."""
    docs = load_table(spark, sf_dir, "documents")
    P = _FH_P
    W = _WINNOW_K_WINDOW
    tk = F.filter(F.split(F.col("text"), " "), lambda x: x != F.lit(""))
    hw = F.transform(tk, poly_hash)
    d = docs.select("doc_id", hw.alias("hw"))
    g = F.when(
        F.size(F.col("hw")) >= 3,
        F.transform(
            F.sequence(F.lit(1), F.size(F.col("hw")) - 2),
            lambda i: (
                (
                    F.element_at(F.col("hw"), i) * 131
                    + F.element_at(F.col("hw"), i + 1)
                )
                % P
                * 131
                + F.element_at(F.col("hw"), i + 2)
            )
            % P,
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    d = d.select("doc_id", g.alias("g"))
    f = (
        F.when(F.size(F.col("g")) == 0, F.array().cast("array<bigint>"))
        .when(
            F.size(F.col("g")) < W, F.array(F.array_min(F.col("g")))
        )
        .otherwise(
            F.transform(
                F.sequence(F.lit(1), F.size(F.col("g")) - (W - 1)),
                lambda j: F.array_min(F.slice(F.col("g"), j, W)),
            )
        )
    )
    return d.select(
        "doc_id",
        F.size("g").cast("long").alias("n_grams"),
        F.size(F.array_distinct(f)).cast("long").alias("n_fingerprints"),
        F.array_min(f).cast("long").alias("fp_min"),
        F.array_max(f).cast("long").alias("fp_max"),
    )


_SHARD_BUDGET_CHARS = 8_000


@query(
    "llm_shard_manifest",
    oracle=f"""
    WITH c AS (
        SELECT doc_id, n_chars,
               SUM(n_chars) OVER (
                   ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
        FROM documents
    ),
    s AS (
        SELECT doc_id, n_chars,
               CAST(floor((cum - n_chars) / {_SHARD_BUDGET_CHARS}.0)
                    AS BIGINT) AS shard_id
        FROM c
    )
    SELECT shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS shard_chars,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc,
           CAST(MAX(doc_id) AS BIGINT) AS last_doc
    FROM s GROUP BY shard_id
    """,
)
def llm_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard manifest (WebDataset/tar-shard planning): assign
    documents to fixed-byte-budget shards by GLOBAL byte offset —
    shard_id = floor(bytes_before_doc / budget) over the canonical
    doc_id order — and emit the per-shard manifest (doc count, bytes,
    first/last doc). This is the writer-planning step every
    tokenize-and-pack pipeline runs before cutting tar/ArrayRecord
    shards; offset-based assignment means shard boundaries are a pure
    function of the prefix sum, so any worker can compute its own
    shard membership without coordination.

    The global prefix sum uses :func:`relational.distributed_cumsum`
    (range repartition → per-partition running sum → broadcast
    per-partition offsets) — the whitelisted primitive, NOT a global
    window; the oracle states the same semantics with DuckDB's
    single-node window. Then one grouped aggregate on shard_id.

    100 TB shape: prefix sums scale as one extra metadata-sized
    exchange (per-partition totals), and the manifest aggregate
    map-side combines — the whole plan is two small shuffles
    regardless of corpus size."""
    from etl_geonames_spark.operators.relational import distributed_cumsum

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    c = distributed_cumsum(docs, ["doc_id"], "n_chars", "cum")
    s = c.select(
        "doc_id",
        "n_chars",
        F.floor(
            (F.col("cum") - F.col("n_chars")) / float(_SHARD_BUDGET_CHARS)
        )
        .cast("long")
        .alias("shard_id"),
    )
    return s.groupBy("shard_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("shard_chars"),
        F.min("doc_id").cast("long").alias("first_doc"),
        F.max("doc_id").cast("long").alias("last_doc"),
    )


@query(
    "llm_dpo_pairs",
    oracle="""
    WITH scored AS (
        SELECT source, lang, doc_id, n_chars,
               n_chars * 1000000 + doc_id AS pack
        FROM documents
    )
    SELECT source, lang,
           CAST(MAX(pack) % 1000000 AS BIGINT) AS chosen_doc,
           CAST(MIN(pack) % 1000000 AS BIGINT) AS rejected_doc,
           CAST(MAX(pack) // 1000000
                - MIN(pack) // 1000000 AS BIGINT) AS score_gap,
           CAST(COUNT(*) AS BIGINT) AS n_candidates
    FROM scored
    GROUP BY source, lang
    HAVING COUNT(*) >= 2
    """,
)
def llm_dpo_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair mining for DPO/RLHF-style training: within
    each (source, lang) candidate pool, emit one (chosen, rejected)
    pair — the highest- vs lowest-scoring document (score = n_chars
    here; any per-doc quality column slots in) plus the score gap
    that downstream filtering thresholds on. Pools with a single
    candidate can't form a pair and are dropped (HAVING n ≥ 2).

    Argmax/argmin run as ONE map-side-combined hash aggregate via
    the packed-key trick (score·10⁶ + doc_id packs the full
    tie-break chain into a single MAX/MIN — sql_distinct_on's
    recipe, so ties break identically in both engines: larger doc_id
    wins chosen, smaller wins rejected). No window, no sort, no
    join — the cheapest possible shape, and exactly what survives
    100 TB: pair construction stays a grouped aggregate no matter
    how many candidates share a pool. Pack headroom: doc_id < 10⁶
    by fixture contract; wider ids widen the multiplier."""
    docs = load_table(spark, sf_dir, "documents")
    pack = F.col("n_chars") * 1_000_000 + F.col("doc_id")
    s = docs.select("source", "lang", pack.alias("pack"))
    return (
        s.groupBy("source", "lang")
        .agg(
            (F.max("pack") % 1_000_000).cast("long").alias("chosen_doc"),
            (F.min("pack") % 1_000_000).cast("long").alias("rejected_doc"),
            (
                F.floor(F.max("pack") / 1_000_000)
                - F.floor(F.min("pack") / 1_000_000)
            )
            .cast("long")
            .alias("score_gap"),
            F.count(F.lit(1)).cast("long").alias("n_candidates"),
        )
        .filter(F.col("n_candidates") >= 2)
    )


@query(
    "llm_url_dedup",
    oracle="""
    WITH raw AS (
        SELECT doc_id,
               'HTTPS://WWW.' || source || '.Example.com/Docs/'
                   || CAST(doc_id % 13 AS VARCHAR)
                   || '/?utm_source=feed&ref=' || lang AS url
        FROM documents
    ),
    canon AS (
        SELECT doc_id,
               regexp_replace(
                   regexp_replace(
                       regexp_replace(
                           regexp_replace(lower(url),
                               '^https?://', ''),
                           '^www\\.', ''),
                       '[?&](utm_[a-z]+|ref)=[^&]*', '', 'g'),
                   '[?/]+$', '') AS curl
        FROM raw
    )
    SELECT curl,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS keep_doc
    FROM canon GROUP BY curl HAVING COUNT(*) >= 2
    """,
)
def llm_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup — the first dedup stage of every
    web-crawl corpus pipeline (C4/CCNet shape): lowercase, strip
    scheme and leading www., drop tracking query params
    (utm_*/ref), trim trailing slash/?, then group by the canonical
    URL keeping the smallest doc id. Fixture documents carry no URL
    column, so a deterministic mixed-case tracking-parameter URL is
    synthesized from (source, doc_id, lang) IN BOTH ENGINES — the
    canonicalization regex chain is the behavior under test.

    Spark's regexp_replace is replace-ALL by default; DuckDB needs
    the explicit 'g' flag — the oracle encodes that dialect
    difference, which is exactly the kind of silent divergence the
    differential gate exists to catch.

    100 TB shape: map-side regex chain (codegen, no UDF) into ONE
    hash aggregate on the canonical string — identical scaling to
    llm_dedup_exact; the canonical-URL key is near-unique so no
    skew, and the HAVING keeps only dup groups (the action set)."""
    docs = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("HTTPS://WWW."),
        F.col("source"),
        F.lit(".Example.com/Docs/"),
        (F.col("doc_id") % 13).cast("string"),
        F.lit("/?utm_source=feed&ref="),
        F.col("lang"),
    )
    curl = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.lower(url), "^https?://", ""),
                "^www\\.",
                "",
            ),
            "[?&](utm_[a-z]+|ref)=[^&]*",
            "",
        ),
        "[?/]+$",
        "",
    )
    return (
        docs.select("doc_id", curl.alias("curl"))
        .groupBy("curl")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("keep_doc"),
        )
        .filter(F.col("n_docs") >= 2)
    )


_BOOT_REPS = 200
_BOOT_P = 1_000_003


def _boot_k_sql(j: int) -> str:
    return (
        f"(CASE WHEN ((doc_id * 48271 + r * 69621 + {j} * 40503) "
        f"% {_BOOT_P}) % 4 = 0 THEN 1 ELSE 0 END)"
    )


@query(
    "llm_bootstrap_ci",
    oracle=f"""
    WITH reps AS (
        SELECT doc_id, n_chars, r,
               {" + ".join(_boot_k_sql(j) for j in (1, 2, 3, 4))} AS k
        FROM documents,
             (SELECT unnest(generate_series(0, {_BOOT_REPS - 1})) AS r)
    ),
    m AS (
        SELECT r,
               SUM(k * n_chars) / CAST(SUM(k) AS DOUBLE) AS mean_r
        FROM reps GROUP BY r
    ),
    ci AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_reps,
               quantile_disc(mean_r, 0.025) AS ci_lo,
               quantile_disc(mean_r, 0.975) AS ci_hi
        FROM m
    ),
    pt AS (SELECT AVG(n_chars) AS point_mean FROM documents)
    SELECT n_reps, point_mean, ci_lo, ci_hi FROM ci, pt
    """,
)
def llm_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap confidence interval for a corpus statistic (mean doc
    length), via the POISSON bootstrap — the distributed-systems form
    of resampling: instead of drawing n docs with replacement per
    replicate (which needs a global shuffle per replicate), each doc
    independently enters replicate r with a Binomial(4, ¼) ≈
    Poisson(1) count, so all 200 replicates compute in ONE grouped
    aggregate over a doc×replicate expansion. This is how eval
    pipelines put error bars on corpus metrics without 200 passes.

    Replicate weights come from a deterministic arithmetic hash of
    (doc, replicate, trial) — both engines replay the identical
    counts, replicate means are exact-integer ratios (ulp-identical
    doubles), and the CI bounds are DISCRETE percentiles (actual
    replicate values, agg_percentile_disc's cross-engine anchor) —
    so the whole randomized procedure carries a full value-hash
    oracle.

    100 TB shape: the ×200 expansion is map-side (broadcast replicate
    spine), the aggregate map-side-combines to 200 rows, and the CI
    is an aggregate over those — corpus scans once. Replicates tune
    precision vs cost linearly."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars"
    )
    reps = spark.range(_BOOT_REPS).select(F.col("id").alias("r"))
    k = None
    for j in (1, 2, 3, 4):
        term = F.when(
            (
                (
                    F.col("doc_id") * 48271
                    + F.col("r") * 69621
                    + j * 40503
                )
                % _BOOT_P
            )
            % 4
            == 0,
            1,
        ).otherwise(0)
        k = term if k is None else k + term
    expanded = docs.crossJoin(F.broadcast(reps)).select(
        "r", "n_chars", k.alias("k")
    )
    m = expanded.groupBy("r").agg(
        (
            F.sum(F.col("k") * F.col("n_chars"))
            / F.sum("k").cast("double")
        ).alias("mean_r")
    )
    m.createOrReplaceTempView("boot_reps_means")
    ci = spark.sql("""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_reps,
               percentile_disc(0.025) WITHIN GROUP (ORDER BY mean_r)
                   AS ci_lo,
               percentile_disc(0.975) WITHIN GROUP (ORDER BY mean_r)
                   AS ci_hi
        FROM boot_reps_means
    """)
    pt = docs.agg(F.avg("n_chars").alias("point_mean"))
    return ci.crossJoin(F.broadcast(pt)).select(
        "n_reps", "point_mean", "ci_lo", "ci_hi"
    )


@query(
    "llm_metric_spearman",
    oracle="""
    WITH m AS (
        SELECT doc_id,
               n_chars AS x,
               CAST(len(list_distinct(
                   list_filter(str_split(text, ' '), t -> t <> '')))
                   AS BIGINT) AS y
        FROM documents
    ),
    r AS (
        SELECT doc_id,
               CAST(ROW_NUMBER() OVER (ORDER BY x, doc_id) AS BIGINT)
                   AS rx,
               CAST(ROW_NUMBER() OVER (ORDER BY y, doc_id) AS BIGINT)
                   AS ry
        FROM m
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               SUM(rx) AS sx, SUM(ry) AS sy,
               SUM(rx * ry) AS sxy,
               SUM(rx * rx) AS sxx, SUM(ry * ry) AS syy
        FROM r
    )
    SELECT n,
           (CAST(n * sxy - sx * sy AS DOUBLE))
           / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                  * CAST(n * syy - sy * sy AS DOUBLE)) AS spearman_rho
    FROM s
    """,
)
def llm_metric_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between two per-document metrics
    (length in chars vs vocabulary size) — the monotone-association
    check quality dashboards run where Pearson (agg_corr_covar)
    assumes linearity. Ranks are GLOBAL, which is exactly what the
    global-window ban exists for: both metrics rank through
    :func:`relational.distributed_rank` (range repartition →
    per-partition row_number → broadcast offsets), with doc_id as the
    deterministic tie-break so ranks are an exact permutation in both
    engines.

    From there everything is EXACT integer moment sums (ranks are
    ints; every sum fits int64 at any plausible n), combined by the
    textbook product-moment formula with the two variance factors
    cast to double only for the final multiply/sqrt — so the output
    double is bit-identical across engines with no rounding grid at
    all.

    100 TB shape: two distributed ranks (each one range exchange +
    metadata window), one join on doc_id, one global moment
    aggregate — corpus scans once per metric, no global sort ever
    materializes on one node. r10 fusion: the metric table is
    localCheckpointed so the tokenize runs ONCE instead of riding
    both rank branches' internal consumers, and the two rank tables
    are checkpointed (grid-truncation, the stat_kendall_w precedent)
    so the censused plan is two RDD scans + join + one aggregate —
    census 13 → 1 exchange, values unchanged (exact integer ranks,
    same oracle)."""
    from etl_geonames_spark.operators.relational import distributed_rank

    docs = load_table(spark, sf_dir, "documents")
    m = docs.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("x"),
        F.size(
            F.array_distinct(
                F.filter(
                    F.split(F.col("text"), " "), lambda t: t != F.lit("")
                )
            )
        )
        .cast("long")
        .alias("y"),
    ).transform(pin)
    rx = distributed_rank(m.select("doc_id", "x"), ["x", "doc_id"]).select(
        "doc_id", F.col("_grn").cast("long").alias("rx")
    ).transform(pin)
    ry = distributed_rank(m.select("doc_id", "y"), ["y", "doc_id"]).select(
        "doc_id", F.col("_grn").cast("long").alias("ry")
    ).transform(pin)
    s = (
        rx.join(ry, "doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("rx").alias("sx"),
            F.sum("ry").alias("sy"),
            F.sum(F.col("rx") * F.col("ry")).alias("sxy"),
            F.sum(F.col("rx") * F.col("rx")).alias("sxx"),
            F.sum(F.col("ry") * F.col("ry")).alias("syy"),
        )
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    vx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    vy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
        "double"
    )
    return s.select(
        "n", (num / F.sqrt(vx * vy)).alias("spearman_rho")
    )


@query(
    "llm_mix_kl_divergence",
    oracle=f"""
    WITH cells AS (
        SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS c
        FROM documents GROUP BY source, lang
    ),
    sm AS (SELECT source, CAST(SUM(c) AS BIGINT) AS ns
           FROM cells GROUP BY source),
    qm AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS cq FROM cells
           GROUP BY lang),
    n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells)
    SELECT cells.source,
           sm.ns AS n_docs,
           {sql_qround(
               'SUM((CAST(cells.c AS DOUBLE) / sm.ns)'
               ' * log2((CAST(cells.c AS DOUBLE) / sm.ns)'
               '        / (CAST(qm.cq AS DOUBLE) / n.n)))', 6
           )} AS kl_bits
    FROM cells JOIN sm USING (source) JOIN qm USING (lang), n
    GROUP BY cells.source, sm.ns
    """,
)
def llm_mix_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source KL divergence (bits) between the source's language
    mix and the corpus-wide mix — the mixture-drift score a data-mix
    dashboard sorts by: a source with kl ≈ 0 looks like the corpus, a
    high-KL source is skewing it (the quantitative form of what
    stat_chi2_independence tests globally). Absent languages
    contribute 0 by the 0·log 0 convention — and since every cell in
    the sum EXISTS in the cell table (c ≥ 1), no guard is needed; the
    reference distribution q is the corpus marginal, which is never 0
    for an observed language.

    One contingency aggregate; source totals, language marginals and
    the grand total are re-aggregates of the cell table joined back
    broadcast — the corpus scans once. Per-source sums run over
    ≤ |langs| cells → qround(6) for the order-dependent float sum.
    """
    docs = load_table(spark, sf_dir, "documents")
    cells = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    sm = cells.groupBy("source").agg(F.sum("c").cast("long").alias("ns"))
    qm = cells.groupBy("lang").agg(F.sum("c").cast("long").alias("cq"))
    n = cells.agg(F.sum("c").cast("long").alias("n"))
    p = F.col("c").cast("double") / F.col("ns")
    q = F.col("cq").cast("double") / F.col("n")
    return (
        cells.join(F.broadcast(sm), "source")
        .join(F.broadcast(qm), "lang")
        .crossJoin(F.broadcast(n))
        .groupBy("source", F.col("ns").alias("n_docs"))
        .agg(qround(F.sum(p * F.log2(p / q)), 6).alias("kl_bits"))
    )


# Fixed chat template (marker tokens only — no escape-sensitive
# whitespace, so the oracle string and the Column expressions carry
# byte-identical literals). Lengths are computed ONCE in Python and
# injected as constants into both engines.
_SFT_SYS = "<|system|>You are helpful.<|user|>"
_SFT_ASST = "<|assistant|>"
_SFT_END = "<|end|>"
_SFT_PROMPT_WORDS = 8


@query(
    "llm_sft_render",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(str_split(text, ' '), t -> t <> '') AS t
        FROM documents
    ),
    parts AS (
        SELECT doc_id,
               array_to_string(t[1:{_SFT_PROMPT_WORDS}], ' ') AS prompt,
               array_to_string(t[{_SFT_PROMPT_WORDS + 1}:len(t)], ' ')
                   AS response
        FROM toks WHERE len(t) >= {_SFT_PROMPT_WORDS + 2}
    )
    SELECT doc_id,
           '{_SFT_SYS}' || prompt || '{_SFT_ASST}' || response
               || '{_SFT_END}' AS rendered,
           CAST({len(_SFT_SYS) + len(_SFT_ASST) + len(_SFT_END)}
                + length(prompt) + length(response) AS BIGINT)
               AS n_chars_total,
           CAST({len(_SFT_SYS) + len(_SFT_ASST)} + length(prompt) + 1
                AS BIGINT) AS asst_start,
           CAST(length(response) AS BIGINT) AS asst_len
    FROM parts
    """,
)
def llm_sft_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT example rendering: apply a chat template (system/user/
    assistant marker tokens) to (prompt, response) pairs AND emit the
    assistant span's character offsets — the loss mask an SFT trainer
    needs so gradient flows only through response tokens (the
    completion-only masking convention; llm_mask_tokens is the MLM
    sibling that masks random tokens instead). Pairs derive
    deterministically from the corpus: first 8 words = prompt, rest =
    response, docs shorter than prompt+2 words drop.

    Pure map-side string assembly — concat of fixed literals whose
    lengths are Python constants injected into BOTH engines, so
    asst_start = |prefix| + 1 is exact integer arithmetic and the
    span can be asserted against substring() on either side. Zero
    shuffles at any corpus size; the template swaps by editing one
    constant, offsets stay correct by construction.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.filter(F.split("text", " "), lambda t: t != F.lit("")).alias("t"),
    ).filter(F.size("t") >= _SFT_PROMPT_WORDS + 2)
    parts = toks.select(
        "doc_id",
        F.concat_ws(
            " ", F.slice(F.col("t"), 1, _SFT_PROMPT_WORDS)
        ).alias("prompt"),
        F.concat_ws(
            " ",
            F.slice(
                F.col("t"),
                _SFT_PROMPT_WORDS + 1,
                F.size("t") - _SFT_PROMPT_WORDS,
            ),
        ).alias("response"),
    )
    prefix_len = len(_SFT_SYS) + len(_SFT_ASST)
    return parts.select(
        "doc_id",
        F.concat(
            F.lit(_SFT_SYS),
            F.col("prompt"),
            F.lit(_SFT_ASST),
            F.col("response"),
            F.lit(_SFT_END),
        ).alias("rendered"),
        (
            F.lit(prefix_len + len(_SFT_END))
            + F.length("prompt")
            + F.length("response")
        )
        .cast("long")
        .alias("n_chars_total"),
        (F.lit(prefix_len) + F.length("prompt") + 1)
        .cast("long")
        .alias("asst_start"),
        F.length("response").cast("long").alias("asst_len"),
    )


# Fixed BPE merge rules, applied IN ORDER, each globally (the standard
# Sennrich apply loop: merge k rewrites every occurrence before merge
# k+1 runs). Symbols are space-separated; '</w>' marks word ends so
# merges can be word-final-aware. The list is a literal: the operator
# demonstrates APPLYING a vocabulary, llm_bpe_pair_counts TRAINS one.
_BPE_MERGES = [
    ("e", "r"), ("i", "n"), ("o", "n"), ("a", "n"),
    ("t", "i"), ("e", "s"), ("r", "e"), ("e", "n"),
]


@query(
    "llm_bpe_apply",
    oracle=f"""
    WITH sym AS (
        SELECT doc_id,
               ' ' || array_to_string(list_transform(
                   list_filter(str_split(text, ' '), w -> w <> ''),
                   w -> array_to_string(str_split_regex(w, ''), ' ')
                        || ' </w>'), ' ') || ' ' AS s
        FROM documents
    ),
    merged AS (
        SELECT doc_id,
               {"".join(f"replace(" for _ in _BPE_MERGES)}s{"".join(
                   f", ' {a} {b} ', ' {a}{b} ')" for a, b in _BPE_MERGES
               )} AS m
        FROM sym
    )
    SELECT doc_id,
           CAST(len(str_split(trim(s), ' ')) AS BIGINT) AS n_symbols_in,
           CAST(len(str_split(trim(m), ' ')) AS BIGINT) AS n_tokens_out,
           CAST(len(str_split(trim(s), ' ')) -
                len(str_split(trim(m), ' ')) AS BIGINT) AS n_merges_fired
    FROM sym JOIN merged USING (doc_id)
    WHERE trim(s) <> ''
    """,
)
def llm_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY a BPE merge table (Sennrich et al. 2016's tokenize step —
    llm_bpe_pair_counts is the train step that produces the rules):
    each document becomes a space-separated symbol stream (chars +
    '</w>' word markers), then the 8 merge rules rewrite it IN
    PRIORITY ORDER as a chain of 8 plain ``replace`` calls
    (non-regex: both engines replace all matches in one left-to-right
    scan, sidestepping the Spark-replaces-all vs DuckDB 'g'-flag
    regexp trap). KNOWN DELTA from Sennrich's apply loop: the
    space-padded pattern ' a b ' CONSUMES its trailing delimiter, so
    a self-overlapping run like ' e r e r ' merges only at odd
    positions in this pass (left-to-right non-overlapping, as both
    engines implement replace) where the reference algorithm's
    scan-until-fixpoint would also catch the residue; a fixpoint loop
    here would re-scan the whole corpus per iteration for a rewrite
    that fires on <0.1% of runs. Output: symbol count before, token
    count after, merges fired — the vocabulary-compression
    measurement.

    Map-only codegen end-to-end: a K-rule vocabulary is a K-deep
    expression chain, zero shuffles at any corpus size. Real
    vocabularies (10⁴ merges) graduate to a Pandas-UDF trie pass;
    the counting/If-this-merges semantics stay identical.
    """
    docs = load_table(spark, sf_dir, "documents")
    chars = F.concat_ws(
        " ",
        F.transform(
            F.filter(F.split("text", " "), lambda w: w != F.lit("")),
            lambda w: F.concat(
                F.concat_ws(" ", F.split(w, "")), F.lit(" </w>")
            ),
        ),
    )
    sym = docs.select(
        "doc_id", F.concat(F.lit(" "), chars, F.lit(" ")).alias("s")
    ).filter(F.trim("s") != "")
    m = F.col("s")
    for a, b in _BPE_MERGES:
        m = F.replace(m, F.lit(f" {a} {b} "), F.lit(f" {a}{b} "))
    n_in = F.size(F.split(F.trim(F.col("s")), " "))
    n_out = F.size(F.split(F.trim(m), " "))
    return sym.select(
        "doc_id",
        n_in.cast("long").alias("n_symbols_in"),
        n_out.cast("long").alias("n_tokens_out"),
        (n_in - n_out).cast("long").alias("n_merges_fired"),
    )


_BPE_TRAIN_ROUNDS = 3
_BPE_SEP_SQL = "chr(31)"  # U+001F unit separator — never in corpus text


def _bpe_train_round_sql(i: int) -> str:
    """One unrolled BPE training round as DuckDB CTEs: weighted pair
    census over the delimited symbol strings → argmax pair (count
    desc, then (a, b) lexicographic) → greedy left-to-right merge via
    plain ``replace`` on the individually-delimited representation
    (see llm_bpe_train_rounds) → the round's report row."""
    prev, S = f"w{i - 1}", _BPE_SEP_SQL
    return f"""
    p{i} AS (
      SELECT t[g.i] AS a, t[g.i + 1] AS b, CAST(SUM(wf) AS BIGINT) AS n
      FROM (SELECT list_filter(str_split(s, {S}), x -> x <> '') AS t, wf
            FROM {prev}) q,
           LATERAL unnest(generate_series(1, len(t) - 1)) AS g(i)
      GROUP BY 1, 2
    ),
    s{i} AS (SELECT a, b, n FROM p{i} ORDER BY n DESC, a, b LIMIT 1),
    w{i} AS (
      SELECT replace(s, {S} || s{i}.a || {S} || {S} || s{i}.b || {S},
                     {S} || s{i}.a || s{i}.b || {S}) AS s, wf
      FROM {prev}, s{i}
    ),
    r{i} AS (
      SELECT CAST({i} AS BIGINT) AS round,
             s{i}.a || '+' || s{i}.b AS merge_pair,
             s{i}.n AS pair_count,
             (SELECT CAST(SUM(wf * len(list_filter(str_split(s, {S}),
                                                   x -> x <> '')))
                     AS BIGINT)
              FROM w{i}) AS total_symbols
      FROM s{i}
    )"""


def _bpe_syms(col):
    """Recover the symbol array from the delimited string form."""
    return F.filter(F.split(col, "\x1f"), lambda x: x != F.lit(""))


@query(
    "llm_bpe_train_rounds",
    oracle=f"""
    WITH w0 AS (
      SELECT regexp_replace(w, '(?s)(.)', {_BPE_SEP_SQL} || '\\1'
                                      || {_BPE_SEP_SQL}, 'g') AS s,
             CAST(COUNT(*) AS BIGINT) AS wf
      FROM (SELECT unnest(str_split(text, ' ')) AS w FROM documents) t
      WHERE w <> '' GROUP BY 1
    ),
    {",".join(_bpe_train_round_sql(i)
              for i in range(1, _BPE_TRAIN_ROUNDS + 1))}
    SELECT * FROM ({" UNION ALL ".join(
        f"SELECT * FROM r{i}" for i in range(1, _BPE_TRAIN_ROUNDS + 1)
    )})
    """,
)
def llm_bpe_train_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE TRAINING LOOP (Sennrich et al. 2016), 3 unrolled
    count → argmax → merge rounds — closing the tokenizer story whose
    single pieces already exist (llm_bpe_pair_counts = one census,
    llm_bpe_apply = inference with a fixed rule table): this op
    actually LEARNS the first 3 merge rules from the corpus and
    reports, per round, the rule chosen, its selection-time weighted
    pair count, and the corpus symbol total after the merge (strictly
    decreasing — pinned in tests/test_stat_invariants.py).

    The greedy non-overlapping merge is the hard part to make
    engine-identical; the trick is the REPRESENTATION: every symbol
    is individually delimited (``␟sym␟``), so the merge of (a, b) is
    a plain string ``replace`` of ``␟a␟␟b␟`` with ``␟ab␟`` — both
    engines scan left-to-right non-overlapping, adjacent matches
    share no characters, and cross-symbol false matches are
    impossible (a bare substring match like 'l l' inside 'al l'
    cannot occur because 'al' carries its own delimiters). An
    overlapping run [l,l,l] merges to [ll,l] on both engines — the
    reference algorithm's behavior.

    Scale shape (the fixed-round graph_cc_bounded discipline applied
    to tokenizer training): the corpus collapses to the |vocab|-sized
    word-frequency table FIRST (the standard BPE trick) and is pinned
    by localCheckpoint; each round is one ≤|Σ|²-key pair aggregate, a
    TakeOrdered(1) argmax broadcast back, and a map-side rewrite —
    per-round localCheckpoint keeps round r+1's plan flat instead of
    re-executing rounds 1..r per consumer. K production rounds = K
    such passes over vocab-sized data, never over the corpus.
    """
    from functools import reduce

    docs = load_table(spark, sf_dir, "documents")
    sep = "\x1f"
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("wf"))
        .select(
            # (?s) = DOTALL in BOTH Java regex and RE2: without it '.'
            # skips line terminators — and the two engines disagree on
            # WHICH ones (\r matches in RE2 but not Java), so a \r in a
            # token would delimit on one engine only (parity break) and
            # a \n would become an unmergeable ghost symbol on both
            F.regexp_replace("w", "(?s)(.)", sep + "$1" + sep).alias("s"),
            "wf",
        )
        .transform(pin)
    )
    rows = []
    cur = words
    for r in range(1, _BPE_TRAIN_ROUNDS + 1):
        t = _bpe_syms(F.col("s"))
        pairs = (
            cur.select(
                F.explode(
                    F.arrays_zip(
                        F.slice(t, 1, F.size(t) - 1).alias("a"),
                        F.slice(t, 2, F.size(t) - 1).alias("b"),
                    )
                ).alias("p"),
                "wf",
            )
            .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"), "wf")
            .groupBy("a", "b")
            .agg(F.sum("wf").cast("long").alias("n"))
        )
        sel = (
            pairs.orderBy(F.col("n").desc(), "a", "b")
            .limit(1)
            .transform(pin)  # 1 row; two consumers (merge + report)
        )
        merged = (
            cur.crossJoin(F.broadcast(sel))
            .select(
                F.replace(
                    F.col("s"),
                    F.concat(
                        F.lit(sep), F.col("a"), F.lit(sep),
                        F.lit(sep), F.col("b"), F.lit(sep),
                    ),
                    F.concat(
                        F.lit(sep), F.col("a"), F.col("b"), F.lit(sep)
                    ),
                ).alias("s"),
                "wf",
            )
            .transform(pin)
        )
        tot = merged.agg(
            F.sum(F.col("wf") * F.size(_bpe_syms(F.col("s"))))
            .cast("long")
            .alias("total_symbols")
        )
        rows.append(
            sel.crossJoin(tot).select(
                F.lit(r).cast("long").alias("round"),
                F.concat(F.col("a"), F.lit("+"), F.col("b")).alias(
                    "merge_pair"
                ),
                F.col("n").alias("pair_count"),
                "total_symbols",
            )
        )
        cur = merged
    return reduce(lambda x, y: x.unionAll(y), rows)


# Unigram-LM tokenizer (Kudo 2018), one EM round. Caps are
# contractual: words over _UNI_MAX_WORD chars sit out this round
# (SentencePiece's max-sentence-length analogue), candidate pieces
# run 1.._UNI_MAX_TOK chars, and the seeded vocabulary is all single
# chars (coverage guarantee) + the top-_UNI_TOPK multi-char
# substrings by weighted occurrence count.
_UNI_MAX_WORD = 10
_UNI_MAX_TOK = 4
_UNI_TOPK = 48

# One DP fold body shared by the oracle's forward and backward passes:
# state = boundary-indexed DOUBLE list (boundary b at 1-based index
# b+1), items = [target_boundary, source_boundary, p] triples. The
# lambda indexes the UNMODIFIED acc (LIST state, never STRUCT —
# DuckDB's struct-state list_reduce rebinds fields mid-row).
_UNI_FOLD_SQL = """(acc, x) -> list_transform(acc, (v, ix) ->
             CASE WHEN ix = CAST(x[1] AS INT) + 1
                  THEN v + acc[CAST(x[2] AS INT) + 1] * x[3]
                  ELSE v END)"""

# Shared seed CTEs (words -> candidate census -> seeded vocab -> edge
# lattice) used verbatim by BOTH llm_unigram_em_round's and
# llm_unigram_viterbi_apply's oracles — one definition, so seed/vocab
# drift between the train and apply steps is structurally impossible
# (the _IRLS_CORE_SQL discipline).
_UNI_SEED_SQL = f"""words AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS wf
        FROM (SELECT unnest(str_split(text, ' ')) AS w FROM documents) t
        WHERE w <> '' AND length(w) <= {_UNI_MAX_WORD}
        GROUP BY w
    ),
    cands AS (
        SELECT u.s AS s, CAST(SUM(wf) AS BIGINT) AS c
        FROM words, UNNEST(flatten(list_transform(
            generate_series(1, length(w)),
            jj -> list_transform(
                generate_series(1, least({_UNI_MAX_TOK},
                                         length(w) - jj + 1)),
                ll -> substr(w, CAST(jj AS INT), CAST(ll AS INT))))))
            AS u(s)
        GROUP BY u.s
    ),
    vocab AS (
        SELECT s, c FROM cands WHERE length(s) = 1
        UNION ALL
        SELECT s, c FROM (
            SELECT s, c FROM cands WHERE length(s) > 1
            ORDER BY c DESC, s LIMIT {_UNI_TOPK})
    ),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS tc FROM vocab),
    raw AS (
        SELECT w, wf,
               CAST(u.jl[1] - 1 AS INT) AS j,
               CAST(u.jl[1] - 1 + u.jl[2] AS INT) AS i,
               substr(w, CAST(u.jl[1] AS INT), CAST(u.jl[2] AS INT)) AS s
        FROM words, UNNEST(flatten(list_transform(
            generate_series(1, length(w)),
            jj -> list_transform(
                generate_series(1, least({_UNI_MAX_TOK},
                                         length(w) - jj + 1)),
                ll -> [jj, ll])))) AS u(jl)
    )"""


def _unigram_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capped word-frequency table — the ONE corpus-scale pass both
    unigram ops collapse to (checkpointed: census + lattice reuse)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(
            (F.col("w") != "") & (F.length("w") <= _UNI_MAX_WORD)
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("wf"))
        .transform(pin)
    )


def _unigram_spans(mk):
    """All (start j0, len ln) candidate spans of the current word as
    an array of mk(j0, ln) — j0/ln are 1-based (substring convention);
    lattice boundaries are j0-1 and j0-1+ln."""
    L = F.length("w")
    return F.flatten(
        F.transform(
            F.sequence(F.lit(1), L),
            lambda j0: F.transform(
                F.sequence(
                    F.lit(1),
                    F.least(F.lit(_UNI_MAX_TOK), L - j0 + 1),
                ),
                lambda ln: mk(j0, ln),
            ),
        )
    )


def _unigram_vocab(words: DataFrame) -> DataFrame:
    """Seeded vocabulary: every single char (coverage) + the
    top-_UNI_TOPK multi-char substrings by weighted count,
    (c desc, s asc)-deterministic. Checkpointed (multi-consumer)."""
    cands = (
        words.select(
            "wf",
            F.explode(
                _unigram_spans(
                    lambda j0, ln: F.substring(F.col("w"), j0, ln)
                )
            ).alias("s"),
        )
        .groupBy("s")
        .agg(F.sum("wf").cast("long").alias("c"))
    )
    singles = cands.filter(F.length("s") == 1)
    multis = (
        cands.filter(F.length("s") > 1)
        .orderBy(F.col("c").desc(), "s")
        .limit(_UNI_TOPK)
    )
    return singles.unionByName(multis).transform(pin)


def _unigram_edges(words: DataFrame) -> DataFrame:
    """Per-word candidate lattice edges (w, wf, j, i, s): boundary j
    to boundary i spanning substring s."""
    return words.select(
        "w",
        "wf",
        F.explode(
            _unigram_spans(
                lambda j0, ln: F.struct(
                    j0.alias("j0"), ln.alias("ln")
                )
            )
        ).alias("sp"),
    ).select(
        "w",
        "wf",
        (F.col("sp.j0") - 1).alias("j"),
        (F.col("sp.j0") - 1 + F.col("sp.ln")).alias("i"),
        F.substring(
            F.col("w"), F.col("sp.j0"), F.col("sp.ln")
        ).alias("s"),
    )


@query(
    "llm_unigram_em_round",
    oracle=f"""
    WITH {_UNI_SEED_SQL},
    vp AS (SELECT s, c, CAST(c AS DOUBLE) / CAST(tc AS DOUBLE) AS p
           FROM vocab, tot),
    edges AS (
        SELECT r.w, r.wf, r.j, r.i, r.s, v.p
        FROM raw r JOIN vp v USING (s)
    ),
    ew AS (
        SELECT w, wf,
               list_sort(list({{'i': i, 'j': j, 'p': p, 's': s}})) AS ef,
               list_reverse(list_sort(list({{'j': j, 'i': i, 'p': p}})))
                   AS eb
        FROM edges GROUP BY w, wf
    ),
    dp AS (
        SELECT w, wf, ef,
            list_reduce(list_prepend(
                list_concat([CAST(1 AS DOUBLE)],
                    list_transform(generate_series(1, length(w)),
                                   x -> CAST(0 AS DOUBLE))),
                list_transform(ef, e -> [CAST(e.i AS DOUBLE),
                                         CAST(e.j AS DOUBLE), e.p])),
              {_UNI_FOLD_SQL}) AS al,
            list_reduce(list_prepend(
                list_transform(generate_series(0, length(w)),
                    x -> CASE WHEN x = length(w) THEN CAST(1 AS DOUBLE)
                              ELSE CAST(0 AS DOUBLE) END),
                list_transform(eb, e -> [CAST(e.j AS DOUBLE),
                                         CAST(e.i AS DOUBLE), e.p])),
              {_UNI_FOLD_SQL}) AS be
        FROM ew
    ),
    gam AS (
        SELECT wf, g.s AS s,
               CAST(floor((((dp.al[g.j + 1] * g.p) * dp.be[g.i + 1])
                           / dp.al[length(w) + 1])
                          * CAST(1e9 AS DOUBLE)
                          + CAST(0.5 AS DOUBLE)) AS BIGINT) AS e9
        FROM dp, UNNEST(ef) AS u(g)
    ),
    newc AS (
        SELECT s, CAST(SUM(wf * e9) AS BIGINT) AS nc
        FROM gam GROUP BY s
    )
    SELECT v.s AS token,
           CAST(length(v.s) AS BIGINT) AS tok_len,
           v.c AS seed_count,
           COALESCE(n.nc, CAST(0 AS BIGINT)) AS new_count_e9
    FROM vocab v LEFT JOIN newc n ON n.s = v.s
    """,
)
def llm_unigram_em_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One SOFT-EM round of unigram-LM tokenizer training (Kudo 2018,
    the SentencePiece algorithm — the other public tokenizer next to
    BPE, completing llm_bpe_train_rounds' family): seed a candidate
    vocabulary from weighted substring counts, put the unigram
    probabilities p(s) = c(s)/C on every candidate, run the
    forward-backward lattice over every word, and emit each piece's
    EXPECTED count under the current model — the E-step whose
    posterior counts the next round's M-step would renormalize.

    Cross-engine exactness WITHOUT logs: p(s) is one correctly-
    rounded division of identical int64s; every alpha/beta entry is
    built from identical doubles by identical +/× in an identically
    SORTED edge order (forward (i asc, j asc), backward (j desc,
    i desc) — both folds are explicit sorted-list reductions on both
    engines), so the lattice is bit-identical IEEE; each edge
    posterior gamma = ((alpha[j]·p)·beta[i])/alpha[L] rounds to the
    1e-9 integer grid PER EDGE, and everything after is int64
    summation — no engine-order float aggregation anywhere (the
    per-word float work happens inside a deterministic fold, the
    cross-word work is integer). alpha[L] > 0 is structural: every
    single char of every capped word is in the vocabulary.

    Scale shape (the BPE-training discipline): the corpus collapses
    ONCE to the Heaps-law-bounded word-frequency table
    (localCheckpoint, two consumers); the candidate census and the
    EM pass are vocab-broadcast joins plus per-word bounded DP
    (≤ L·K edges = 40 structs, ≤ 11 lattice boundaries — pure
    codegen arithmetic distributed by the word-group hash); each of
    the three aggregates is vocab-sized. K production EM rounds =
    K such passes over vocab-sized data, never over the corpus;
    at quadrillion-token scale the per-edge grid drops to 1e6 so
    wf·e9 sums stay far inside int64.
    """
    words = _unigram_words(spark, sf_dir)
    L = F.length("w")
    vocab = _unigram_vocab(words)
    tot = vocab.agg(F.sum("c").cast("long").alias("tc"))
    vp = vocab.crossJoin(F.broadcast(tot)).select(
        "s",
        (F.col("c").cast("double") / F.col("tc").cast("double")).alias(
            "p"
        ),
    )
    edges = _unigram_edges(words).join(F.broadcast(vp), "s")
    ew = edges.groupBy("w", "wf").agg(
        F.sort_array(
            F.collect_list(F.struct("i", "j", "p", "s"))
        ).alias("ef"),
        F.reverse(
            F.sort_array(F.collect_list(F.struct("j", "i", "p")))
        ).alias("eb"),
    )

    alpha_init = F.concat(
        F.array(F.lit(1.0)),
        F.transform(F.sequence(F.lit(1), L), lambda x: F.lit(0.0)),
    )
    alpha = F.aggregate(
        F.col("ef"),
        alpha_init,
        lambda acc, e: F.transform(
            acc,
            lambda v, ix: F.when(
                ix == e["i"],
                v + F.element_at(acc, e["j"] + 1) * e["p"],
            ).otherwise(v),
        ),
    )
    beta_init = F.transform(
        F.sequence(F.lit(0), L),
        lambda x: F.when(x == L, F.lit(1.0)).otherwise(F.lit(0.0)),
    )
    beta = F.aggregate(
        F.col("eb"),
        beta_init,
        lambda acc, e: F.transform(
            acc,
            lambda v, ix: F.when(
                ix == e["j"],
                v + F.element_at(acc, e["i"] + 1) * e["p"],
            ).otherwise(v),
        ),
    )
    dp = ew.select("w", "wf", "ef", alpha.alias("al"), beta.alias("be"))
    a_last = F.element_at(F.col("al"), F.length("w") + 1)
    gam = dp.select(
        "wf",
        F.explode(
            F.transform(
                "ef",
                lambda e: F.struct(
                    e["s"].alias("s"),
                    F.floor(
                        (
                            (
                                F.element_at(F.col("al"), e["j"] + 1)
                                * e["p"]
                            )
                            * F.element_at(F.col("be"), e["i"] + 1)
                        )
                        / a_last
                        * F.lit(1e9)
                        + F.lit(0.5)
                    )
                    .cast("long")
                    .alias("e9"),
                ),
            )
        ).alias("g"),
    )
    newc = gam.groupBy(F.col("g.s").alias("s")).agg(
        F.sum(F.col("wf") * F.col("g.e9")).cast("long").alias("nc")
    )
    return vocab.join(F.broadcast(newc), "s", "left").select(
        F.col("s").alias("token"),
        F.length("s").cast("long").alias("tok_len"),
        F.col("c").alias("seed_count"),
        F.coalesce(F.col("nc"), F.lit(0).cast("long")).alias(
            "new_count_e9"
        ),
    )


# Fixed-point integer log2 for the Viterbi scores: flog2(c) =
# floor(2^16 · log2 c), computed with PURE int64 arithmetic (a
# normalize fold to mantissa ∈ [2^30, 2^31), then 16 square-and-shift
# steps) — the classic bit-by-bit binary logarithm. No libm anywhere,
# so the value is exact and engine-identical BY CONSTRUCTION, safe in
# selections (unlike ln/pow, banned from cross-engine predicates).
_FLOG2_B = 16
_FLOG2_ONE = 1 << 30
_FLOG2_TWO = 1 << 31
_VIT_NEG = -(1 << 40)  # unreachable-boundary sentinel


def _flog2(c):
    """floor(2^16 · log2(c)) for a positive integral Column, all-int."""
    norm = F.aggregate(
        F.sequence(F.lit(1), F.lit(63)),
        F.array(c.cast("long"), F.lit(30).cast("long")),
        lambda st, _x: F.when(
            F.element_at(st, 1) >= _FLOG2_TWO,
            F.array(
                F.shiftright(F.element_at(st, 1), 1),
                F.element_at(st, 2) + 1,
            ),
        )
        .when(
            F.element_at(st, 1) < _FLOG2_ONE,
            F.array(
                F.shiftleft(F.element_at(st, 1), 1),
                F.element_at(st, 2) - 1,
            ),
        )
        .otherwise(st),
    )
    sq = F.aggregate(
        F.sequence(F.lit(1), F.lit(_FLOG2_B)),
        F.array(F.element_at(norm, 1), F.lit(0).cast("long")),
        lambda st, _x: F.when(
            F.shiftright(
                F.element_at(st, 1) * F.element_at(st, 1), 30
            )
            >= _FLOG2_TWO,
            F.array(
                F.shiftright(
                    F.shiftright(
                        F.element_at(st, 1) * F.element_at(st, 1), 30
                    ),
                    1,
                ),
                F.element_at(st, 2) * 2 + 1,
            ),
        ).otherwise(
            F.array(
                F.shiftright(
                    F.element_at(st, 1) * F.element_at(st, 1), 30
                ),
                F.element_at(st, 2) * 2,
            )
        ),
    )
    return F.element_at(norm, 2) * F.lit(1 << _FLOG2_B) + F.element_at(
        sq, 2
    )


def _flog2_sql(cexpr: str) -> str:
    """DuckDB mirror of :func:`_flog2` — same folds, same int64 ops.
    ``cexpr`` must NOT contain lambda variables from the caller
    (collision rule): both call sites pass bare column names."""
    norm = (
        f"list_reduce(list_prepend("
        f"[CAST({cexpr} AS BIGINT), CAST(30 AS BIGINT)],"
        f" list_transform(generate_series(1, 63),"
        f" _fq -> [CAST(0 AS BIGINT), CAST(0 AS BIGINT)])),"
        # element-wise rebuild, NEVER a bare list branch (`ELSE acc`):
        # DuckDB list_reduce corrupts whole-list branch returns under
        # multi-row vectorized execution (the ts_matrix_profile bug)
        " (acc, x) -> ["
        " CASE WHEN acc[1] >= 2147483648 THEN acc[1] >> 1"
        " WHEN acc[1] < 1073741824 THEN acc[1] << 1"
        " ELSE acc[1] END,"
        " CASE WHEN acc[1] >= 2147483648 THEN acc[2] + 1"
        " WHEN acc[1] < 1073741824 THEN acc[2] - 1"
        " ELSE acc[2] END])"
    )
    sq = (
        f"list_reduce(list_prepend("
        f"[{norm}[1], CAST(0 AS BIGINT)],"
        f" list_transform(generate_series(1, {_FLOG2_B}),"
        f" _fq2 -> [CAST(0 AS BIGINT), CAST(0 AS BIGINT)])),"
        " (acc, x) -> CASE"
        " WHEN ((acc[1] * acc[1]) >> 30) >= 2147483648"
        " THEN [((acc[1] * acc[1]) >> 30) >> 1, acc[2] * 2 + 1]"
        " ELSE [(acc[1] * acc[1]) >> 30, acc[2] * 2] END)"
    )
    return f"({norm}[2] * 65536 + {sq}[2])"


# Viterbi-count CTE chain (integer-log weights -> per-word max-score
# segmentation -> chosen-piece counts), shared VERBATIM by
# llm_unigram_viterbi_apply's and llm_unigram_prune's oracles — one
# definition, so the apply and prune steps segment with structurally
# identical machinery (the _UNI_SEED_SQL discipline).
_UNI_VIT_SQL = f"""vw AS (
        SELECT s, ({_flog2_sql("c")} - {_flog2_sql("tc")}) AS wgt
        FROM vocab, tot
    ),
    edges AS (
        SELECT r.w, r.wf, r.j, r.i, v.wgt
        FROM raw r JOIN vw v USING (s)
    ),
    ew AS (
        SELECT w, wf,
               list_sort(list([CAST(i AS BIGINT), CAST(j AS BIGINT),
                               wgt])) AS ev
        FROM edges GROUP BY w, wf
    ),
    dp AS (
        SELECT w, wf,
            list_reduce(list_prepend(
                list_concat(
                    list_concat([CAST(0 AS BIGINT)],
                        list_transform(generate_series(1, length(w)),
                            _vq -> CAST({_VIT_NEG} AS BIGINT))),
                    list_transform(generate_series(0, length(w)),
                        _vq2 -> CAST(0 AS BIGINT))),
                ev),
              (acc, x) -> list_transform(acc, (v, ix) -> CASE
                 WHEN ix = CAST(x[1] AS INT) + 1
                  AND acc[CAST(x[2] AS INT) + 1] + x[3] > v
                 THEN acc[CAST(x[2] AS INT) + 1] + x[3]
                 WHEN ix = CAST(length(w) AS INT) + CAST(x[1] AS INT) + 2
                  AND acc[CAST(x[2] AS INT) + 1] + x[3]
                      > acc[CAST(x[1] AS INT) + 1]
                 THEN x[2]
                 ELSE v END)) AS st
        FROM ew
    ),
    bt AS (
        SELECT w, wf,
            /* always-prepend form (a bare `ELSE acc` list branch is
               the vectorized list_reduce corruption): once the head
               reaches 0 we prepend -1 sentinels, filtered before the
               piece extraction */
            list_filter(
                list_reduce(list_prepend(
                    [CAST(length(w) AS BIGINT)],
                    list_transform(generate_series(1, length(w)),
                        _bq -> [CAST(0 AS BIGINT)])),
                  (acc, x) -> list_prepend(
                     CASE WHEN acc[1] > 0
                          THEN st[CAST(length(w) AS INT)
                                  + CAST(acc[1] AS INT) + 2]
                          ELSE CAST(-1 AS BIGINT) END, acc)),
                _bf -> _bf >= 0) AS chain
        FROM dp
    ),
    pieces AS (
        SELECT wf, u.s AS s
        FROM bt, UNNEST(list_transform(
            generate_series(1, len(chain) - 1),
            _pk -> substr(w, CAST(chain[_pk] + 1 AS INT),
                          CAST(chain[_pk + 1] - chain[_pk] AS INT))))
            AS u(s)
    ),
    vit AS (
        SELECT s, CAST(SUM(wf) AS BIGINT) AS vc
        FROM pieces GROUP BY s
    )"""


@query(
    "llm_unigram_viterbi_apply",
    oracle=f"""
    WITH {_UNI_SEED_SQL},
    {_UNI_VIT_SQL}
    SELECT v.s AS token,
           CAST(length(v.s) AS BIGINT) AS tok_len,
           v.c AS seed_count,
           COALESCE(t.vc, CAST(0 AS BIGINT)) AS viterbi_count
    FROM vocab v LEFT JOIN vit t ON t.s = v.s
    """,
)
def llm_unigram_viterbi_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Viterbi APPLY step of the unigram-LM tokenizer (Kudo 2018's
    inference pass / hard-EM E-step — the counterpart of
    llm_unigram_em_round's soft posteriors, pairing train/apply the
    way llm_bpe_train_rounds/llm_bpe_apply do, over the SAME shared
    seed vocabulary definition): segment every word into the
    max-probability piece sequence and count how often each
    vocabulary piece is actually chosen.

    The argmax must be engine-exact, and log-probs are floats — so
    the scores are fixed-point INTEGER logs: wgt(s) = flog2(c_s) −
    flog2(C) with flog2 = floor(2^16·log2 ·), computed by the
    bit-by-bit binary-logarithm folds in _flog2/_flog2_sql (pure
    int64 normalize + square-and-shift — no libm, exact by
    construction, hence legal INSIDE the selection where ln/pow are
    banned). Viterbi maximizes the integer path score Σ wgt over an
    identically (i, j)-sorted edge fold with strict-> updates, so
    ties resolve identically on both engines (first-seen edge =
    smallest start = LONGEST piece, the SentencePiece convention);
    the backtrace and piece extraction are pure integer/substr work.
    The 2^-16-of-a-bit score quantization is the documented delta
    from float log-probs; at vocab scale it changes an argmax only
    when two paths' probability ratio sits within 2^-16 bits.

    100 TB shape: identical to the EM round — one corpus collapse to
    the checkpointed word table, broadcast vocab weights (the 80-row
    flog2 folds are driver-negligible), per-word bounded DP
    (single int64-array state, ≤40 edges) under the word-group hash,
    vocab-sized aggregates."""
    words = _unigram_words(spark, sf_dir)
    vocab = _unigram_vocab(words)
    vw = _unigram_weights(vocab)
    vit = _unigram_vit_counts(words, vw)
    return vocab.join(F.broadcast(vit), "s", "left").select(
        F.col("s").alias("token"),
        F.length("s").cast("long").alias("tok_len"),
        F.col("c").alias("seed_count"),
        F.coalesce(F.col("vc"), F.lit(0).cast("long")).alias(
            "viterbi_count"
        ),
    )


def _unigram_weights(vocab: DataFrame) -> DataFrame:
    """Fixed-point integer log-prob weights (s, wgt): wgt(s) =
    flog2(c_s) − flog2(C) — the shared scoring table of the Viterbi
    apply and prune steps (mirrors _UNI_VIT_SQL's vw CTE)."""
    tot = vocab.agg(F.sum("c").cast("long").alias("tc"))
    return vocab.crossJoin(F.broadcast(tot)).select(
        "s", (_flog2(F.col("c")) - _flog2(F.col("tc"))).alias("wgt")
    )


def _unigram_vit_counts(words: DataFrame, vw: DataFrame) -> DataFrame:
    """Viterbi chosen-piece counts (s, vc) over the capped word table
    — the Spark mirror of _UNI_VIT_SQL, shared verbatim by
    llm_unigram_viterbi_apply and llm_unigram_prune."""
    L = F.length("w")
    edges = _unigram_edges(words).join(F.broadcast(vw), "s")
    ew = edges.groupBy("w", "wf").agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("i").cast("long").alias("i"),
                    F.col("j").cast("long").alias("j"),
                    F.col("wgt").alias("wgt"),
                )
            )
        ).alias("ev")
    )
    # state layout (0-based ix): best[b] at ix b, bp[b] at ix L+1+b
    init = F.concat(
        F.array(F.lit(0).cast("long")),
        F.transform(
            F.sequence(F.lit(1), L),
            lambda _x: F.lit(_VIT_NEG).cast("long"),
        ),
        F.transform(
            F.sequence(F.lit(0), L), lambda _x: F.lit(0).cast("long")
        ),
    )
    st = F.aggregate(
        F.col("ev"),
        init,
        lambda acc, e: F.transform(
            acc,
            lambda v, ix: F.when(
                (ix == e["i"])
                & (F.element_at(acc, (e["j"] + 1).cast("int")) + e["wgt"] > v),
                F.element_at(acc, (e["j"] + 1).cast("int")) + e["wgt"],
            )
            .when(
                (ix == L + 1 + e["i"])
                & (
                    F.element_at(acc, (e["j"] + 1).cast("int")) + e["wgt"]
                    > F.element_at(acc, (e["i"] + 1).cast("int"))
                ),
                e["j"],
            )
            .otherwise(v),
        ),
    )
    dp = ew.select("w", "wf", st.alias("st"))
    chain = F.aggregate(
        F.sequence(F.lit(1), L),
        F.array(L.cast("long")),
        lambda ch, _x: F.when(
            F.element_at(ch, 1) > 0,
            F.concat(
                F.array(
                    F.element_at(
                        F.col("st"),
                        (L + F.element_at(ch, 1) + 2).cast("int"),
                    )
                ),
                ch,
            ),
        ).otherwise(ch),
    )
    bt = dp.select("w", "wf", chain.alias("chain"))
    pieces = bt.select(
        "wf",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("chain") - 1),
                lambda k: F.substring(
                    F.col("w"),
                    (F.element_at(F.col("chain"), k) + 1).cast("int"),
                    (
                        F.element_at(F.col("chain"), k + 1)
                        - F.element_at(F.col("chain"), k)
                    ).cast("int"),
                ),
            )
        ).alias("s"),
    )
    return pieces.groupBy("s").agg(
        F.sum("wf").cast("long").alias("vc")
    )


# Prune step: drop the bottom fifth of multi-char pieces by
# loss-if-removed. Single chars are never prunable (coverage).
_UNI_PRUNE_DIV = 5


@query(
    "llm_unigram_prune",
    oracle=f"""
    WITH {_UNI_SEED_SQL},
    {_UNI_VIT_SQL},
    mlat AS (
        SELECT v.s AS tok,
               CAST(u.jl[1] - 1 AS BIGINT) AS mj,
               CAST(u.jl[1] - 1 + u.jl[2] AS BIGINT) AS mi,
               substr(v.s, CAST(u.jl[1] AS INT), CAST(u.jl[2] AS INT))
                   AS sub
        FROM vocab v, UNNEST(flatten(list_transform(
            generate_series(1, length(v.s)),
            jj -> list_transform(
                generate_series(1, least({_UNI_MAX_TOK},
                                         length(v.s) - jj + 1)),
                ll -> [jj, ll])))) AS u(jl)
        WHERE length(v.s) > 1
          AND NOT (u.jl[1] = 1 AND u.jl[2] = length(v.s))
    ),
    mew AS (
        SELECT m.tok,
               list_sort(list([m.mi, m.mj, w.wgt])) AS ev
        FROM mlat m JOIN vw w ON w.s = m.sub
        GROUP BY m.tok
    ),
    mdp AS (
        SELECT tok,
            list_reduce(list_prepend(
                list_concat([CAST(0 AS BIGINT)],
                    list_transform(generate_series(1, length(tok)),
                        _pq -> CAST({_VIT_NEG} AS BIGINT))),
                ev),
              (acc, x) -> list_transform(acc, (v, ix) -> CASE
                 WHEN ix = CAST(x[1] AS INT) + 1
                  AND acc[CAST(x[2] AS INT) + 1] + x[3] > v
                 THEN acc[CAST(x[2] AS INT) + 1] + x[3]
                 ELSE v END)) AS best
        FROM mew
    ),
    ml AS (
        SELECT v.s AS token, w.wgt,
               COALESCE(t.vc, CAST(0 AS BIGINT)) AS vfreq,
               d.best[length(v.s) + 1] AS alt_score,
               COALESCE(t.vc, CAST(0 AS BIGINT))
                   * (w.wgt - d.best[length(v.s) + 1]) AS loss
        FROM vocab v
        JOIN vw w ON w.s = v.s
        JOIN mdp d ON d.tok = v.s
        LEFT JOIN vit t ON t.s = v.s
        WHERE length(v.s) > 1
    ),
    np AS (SELECT CAST(COUNT(*) // {_UNI_PRUNE_DIV} AS BIGINT) AS k
           FROM ml)
    SELECT m.token,
           CAST(length(m.token) AS BIGINT) AS tok_len,
           m.vfreq AS viterbi_count,
           m.wgt AS piece_wgt,
           m.alt_score,
           m.loss,
           CAST(CASE WHEN (
               SELECT COUNT(*) FROM ml m2
               WHERE m2.loss < m.loss
                  OR (m2.loss = m.loss AND m2.token < m.token)
           ) < np.k THEN 1 ELSE 0 END AS BIGINT) AS pruned
    FROM ml m, np
    """,
)
def llm_unigram_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRUNE step of the unigram-LM tokenizer (Kudo 2018 §3.2 /
    SentencePiece's PruneSentencePieces — the third leg of the train
    cycle, after llm_unigram_em_round's E-step and
    llm_unigram_viterbi_apply's segmentation, closing the family over
    the SAME shared seed-vocab definition): for every prunable
    (multi-char) piece x, price what the corpus loses if x is
    removed — loss(x) = vfreq(x) · (wgt(x) − alt(x)), where vfreq is
    how often Viterbi actually chooses x, wgt its log-prob score, and
    alt the best score of re-segmenting x ITSELF by the rest of the
    vocabulary (its own lattice minus the full-span edge; single
    chars guarantee a path) — then flag the bottom fifth by loss as
    pruned. Pieces the segmenter never uses (vfreq 0) price at 0 and
    prune first; a piece whose alternative is nearly as good
    (wgt − alt small) is cheap to drop even when frequent — exactly
    the published selection rule.

    ALL-INTEGER selection: wgt and alt both live on the fixed-point
    ⌊2¹⁶·log2⌋ grid (_flog2 — the Viterbi apply's construction, legal
    in selections where libm is banned), vfreq is an exact int64
    Viterbi count, so loss is exact int64 and the bottom-k cut is an
    integer (loss, token) rank — no float anywhere near the decision.
    Rank via a vocab×vocab strictly-smaller broadcast self-join
    (≤48² pairs — vocab-sized, never a global window; the
    distributed_ntile decomposition is for corpus-scale ranks, this
    table is metadata). At quadrillion-token scale vfreq·Δwgt stays
    inside int64 (vfreq ≤ 1e12 · Δwgt ≤ ~2e6 ≈ 2e18 < 2^63).

    100 TB shape: inherits the EM round's bill — one corpus collapse
    to the checkpointed word table, one Viterbi apply pass (broadcast
    vocab weights, bounded per-word DP under the word-group hash),
    then STRICTLY vocab-sized work: each piece's own ≤4-char lattice
    is ≤10 edges, and the rank join is vocab². The ml table is
    localCheckpointed once (three consumers: rank left side, rank
    right side, the threshold count)."""
    words = _unigram_words(spark, sf_dir)
    vocab = _unigram_vocab(words)
    vw = _unigram_weights(vocab)
    vit = _unigram_vit_counts(words, vw)

    multis = vocab.filter(F.length("s") > 1)
    medges = (
        _unigram_edges(
            multis.select(
                F.col("s").alias("w"), F.lit(0).cast("long").alias("wf")
            )
        )
        .filter(
            ~((F.col("j") == 0) & (F.col("i") == F.length("w")))
        )
        .select(
            F.col("w").alias("tok"),
            F.col("j").cast("long").alias("mj"),
            F.col("i").cast("long").alias("mi"),
            F.col("s").alias("sub"),
        )
    )
    mew = (
        medges.join(
            F.broadcast(vw.select(F.col("s").alias("sub"), "wgt")),
            "sub",
        )
        .groupBy("tok")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("mi", "mj", "wgt"))
            ).alias("ev")
        )
    )
    Lt = F.length("tok")
    init = F.concat(
        F.array(F.lit(0).cast("long")),
        F.transform(
            F.sequence(F.lit(1), Lt),
            lambda _x: F.lit(_VIT_NEG).cast("long"),
        ),
    )
    best = F.aggregate(
        F.col("ev"),
        init,
        lambda acc, e: F.transform(
            acc,
            lambda v, ix: F.when(
                (ix == e["mi"])
                & (
                    F.element_at(acc, (e["mj"] + 1).cast("int"))
                    + e["wgt"]
                    > v
                ),
                F.element_at(acc, (e["mj"] + 1).cast("int")) + e["wgt"],
            ).otherwise(v),
        ),
    )
    mdp = mew.select(
        "tok", F.element_at(best, (Lt + 1).cast("int")).alias("alt_score")
    )
    ml = (
        multis.join(F.broadcast(vw), "s")
        .join(
            F.broadcast(mdp.select(F.col("tok").alias("s"), "alt_score")),
            "s",
        )
        .join(F.broadcast(vit), "s", "left")
        .select(
            F.col("s").alias("token"),
            F.col("wgt"),
            F.coalesce(F.col("vc"), F.lit(0).cast("long")).alias(
                "vfreq"
            ),
            "alt_score",
            (
                F.coalesce(F.col("vc"), F.lit(0).cast("long"))
                * (F.col("wgt") - F.col("alt_score"))
            ).alias("loss"),
        )
        .transform(pin)  # three consumers: rank both sides + count
    )
    np_ = ml.agg(
        (F.count(F.lit(1)) / F.lit(_UNI_PRUNE_DIV))
        .cast("long")
        .alias("k")
    )
    other = ml.select(
        F.col("loss").alias("o_loss"), F.col("token").alias("o_token")
    )
    ranked = (
        ml.join(
            F.broadcast(other),
            (F.col("o_loss") < F.col("loss"))
            | (
                (F.col("o_loss") == F.col("loss"))
                & (F.col("o_token") < F.col("token"))
            ),
            "left",
        )
        .groupBy("token", "wgt", "vfreq", "alt_score", "loss")
        .agg(F.count(F.col("o_token")).alias("rk"))
    )
    return ranked.crossJoin(F.broadcast(np_)).select(
        "token",
        F.length("token").cast("long").alias("tok_len"),
        F.col("vfreq").alias("viterbi_count"),
        F.col("wgt").alias("piece_wgt"),
        "alt_score",
        "loss",
        F.when(F.col("rk") < F.col("k"), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("pruned"),
    )


_KN_D = 0.75
_KN_TOPK = 20


@query(
    "llm_kneser_ney_bigram",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, w, i FROM (
            SELECT doc_id,
                   unnest(list_filter(str_split(text, ' '), x -> x <> ''))
                       AS w,
                   unnest(generate_series(1,
                       len(list_filter(str_split(text, ' '), x -> x <> ''))))
                       AS i
            FROM documents
        )
    ),
    bg AS (
        SELECT a.doc_id, a.w AS w1, b.w AS w2
        FROM toks a JOIN toks b
          ON b.doc_id = a.doc_id AND b.i = a.i + 1
    ),
    c12 AS (
        SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
        FROM bg GROUP BY w1, w2
    ),
    c1 AS (
        SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
               CAST(COUNT(*) AS BIGINT) AS n1plus_fwd
        FROM c12 GROUP BY w1
    ),
    cont AS (
        SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1plus_rev
        FROM c12 GROUP BY w2
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_types FROM c12),
    p AS (
        SELECT c12.w1, c12.w2, c12.c12,
               CAST(c12.c12 AS DOUBLE) / c1.c1 AS p_mle,
               (c12.c12 - {_KN_D}) / c1.c1
                 + {_KN_D} * c1.n1plus_fwd / c1.c1
                   * (CAST(cont.n1plus_rev AS DOUBLE) / tot.n_types)
                   AS p_kn
        FROM c12
        JOIN c1 ON c1.w1 = c12.w1
        JOIN cont ON cont.w2 = c12.w2, tot
    )
    SELECT w1, w2, c12,
           {{p_mle}} AS p_mle, {{p_kn}} AS p_kn
    FROM p
    ORDER BY c12 DESC, w1, w2 LIMIT {_KN_TOPK}
    """.format(
        p_mle=sql_qround("p_mle", 6), p_kn=sql_qround("p_kn", 6)
    ),
)
def llm_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram smoothing (Kneser & Ney 1995;
    Chen & Goodman 1998's fixed-discount form, d = 0.75) for the 20
    most frequent corpus bigrams, next to their MLE estimate — the
    LM-probability machinery behind perplexity filtering done RIGHT:
    MLE overrates boilerplate bigrams whose second word never appears
    in novel contexts; KN's continuation probability
    (distinct-left-context count over distinct bigram types) is what
    separates "of the" from genuinely predictive pairs.

    Every count (c12, c1 = Σc12, N1+ forward/backward, type total) is
    an exact int64 from TWO hash aggregates over the bigram table —
    the continuation counts are aggregates of the (already
    metadata-sized) bigram-type table, never a second corpus scan.
    p_kn is one fixed-shape float expression; top-20 selection orders
    by (c12 DESC, w1, w2) — integer + lexicographic, deterministic on
    both engines; Spark plans it as TakeOrdered, never a global
    sort."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(
            F.filter(F.split("text", " "), lambda x: x != F.lit(""))
        ).alias("i", "w"),
    )
    a, b = toks.alias("a"), toks.alias("b")
    bg = a.join(
        b,
        (F.col("b.doc_id") == F.col("a.doc_id"))
        & (F.col("b.i") == F.col("a.i") + 1),
    ).select(F.col("a.w").alias("w1"), F.col("b.w").alias("w2"))
    c12 = (
        bg.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c12"))
        .transform(pin)
    )
    c1 = c12.groupBy("w1").agg(
        F.sum("c12").cast("long").alias("c1"),
        F.count(F.lit(1)).cast("long").alias("n1plus_fwd"),
    )
    cont = c12.groupBy("w2").agg(
        F.count(F.lit(1)).cast("long").alias("n1plus_rev")
    )
    tot = c12.agg(F.count(F.lit(1)).cast("long").alias("n_types"))
    p_mle = F.col("c12").cast("double") / F.col("c1")
    p_kn = (F.col("c12") - F.lit(_KN_D)) / F.col("c1") + F.lit(
        _KN_D
    ) * F.col("n1plus_fwd") / F.col("c1") * (
        F.col("n1plus_rev").cast("double") / F.col("n_types")
    )
    return (
        c12.join(c1, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "c12",
            qround(p_mle, 6).alias("p_mle"),
            qround(p_kn, 6).alias("p_kn"),
        )
        .orderBy(F.col("c12").desc(), "w1", "w2")
        .limit(_KN_TOPK)
    )


_FUNNEL_STAGES = ["min_words", "word_len", "alpha_frac", "stopword", "pass"]


@query(
    "llm_quality_funnel",
    oracle=f"""
    WITH s AS (
      SELECT doc_id,
             str_split(text, ' ') AS t,
             len(str_split(text, ' ')) AS n_words,
             length(text) AS n_chars
      FROM documents
    ),
    m AS (
      SELECT doc_id, n_words,
             (CAST(n_chars AS DOUBLE) - (n_words - 1)) / n_words AS mean_wl,
             CAST(len(list_filter(t, w -> regexp_matches(w, '[a-zA-Z]')))
                  AS DOUBLE) / n_words AS alpha_frac,
             CAST(len(list_filter(t, w -> list_contains([{_STOP_SQL}], w)))
                  AS BIGINT) AS n_stop
      FROM s
    ),
    v AS (
      SELECT CASE
               WHEN n_words < 10 THEN 'min_words'
               WHEN mean_wl < 2.0 OR mean_wl > 12.0 THEN 'word_len'
               WHEN alpha_frac < 0.7 THEN 'alpha_frac'
               WHEN n_stop < 1 THEN 'stopword'
               ELSE 'pass'
             END AS stage
      FROM m
    ),
    counts AS (
      SELECT stage, CAST(COUNT(*) AS BIGINT) AS n_docs FROM v GROUP BY stage
    ),
    stages(stage_idx, stage) AS (VALUES {", ".join(
        f"({i}, '{s}')" for i, s in enumerate(_FUNNEL_STAGES)
    )}),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM v)
    SELECT st.stage_idx, st.stage,
           COALESCE(c.n_docs, 0) AS n_docs,
           tot.total
             - CAST(SUM(COALESCE(c.n_docs, 0)) OVER (
                 ORDER BY st.stage_idx
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT)
             + CASE WHEN st.stage = 'pass'
                    THEN COALESCE(c.n_docs, 0) ELSE 0 END
             AS n_remaining
    FROM stages st
    LEFT JOIN counts c ON c.stage = st.stage, tot
    """,
)
def llm_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quality-gate FUNNEL: every document is attributed to the
    FIRST gate it fails (Gopher's rule set, staged in its published
    order) and the report shows per-stage kills plus survivors after
    each stage — the view a curation operator actually tunes from
    (llm_gopher_quality says WHO passes; this says WHERE the corpus
    is dying, which is what decides whether a threshold moves).

    Verdicts reuse the exact same fixed-shape expressions as the
    gate query (identical doubles from integer inputs on both
    engines, so stage attribution cannot flip); counting is one hash
    aggregate to ≤5 rows; the running survivor count over the 5-row
    stage table is a frame-bounded window on a CONSTANT-sized table
    (not a corpus window — the global-window ban concerns data-sized
    partitions)."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.split(F.col("text"), " ")
    n_words = F.size(t)
    mean_wl = (
        F.length("text").cast("double") - (n_words - F.lit(1))
    ) / n_words
    alpha_frac = (
        F.expr(
            "size(filter(split(text, ' '), w -> w rlike '[a-zA-Z]'))"
        ).cast("double")
        / n_words
    )
    n_stop = F.expr(
        "size(filter(split(text, ' '), w -> w IN ({})))".format(
            ", ".join(f"'{w}'" for w in _STOPWORDS)
        )
    )
    stage = (
        F.when(n_words < 10, F.lit("min_words"))
        .when((mean_wl < 2.0) | (mean_wl > 12.0), F.lit("word_len"))
        .when(alpha_frac < 0.7, F.lit("alpha_frac"))
        .when(n_stop < 1, F.lit("stopword"))
        .otherwise(F.lit("pass"))
    )
    counts = (
        docs.select(stage.alias("stage"))
        .groupBy("stage")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    stages = F.array(
        *[
            F.struct(
                F.lit(i).cast("int").alias("stage_idx"),
                F.lit(s).alias("stage"),
            )
            for i, s in enumerate(_FUNNEL_STAGES)
        ]
    )
    # constant-table seed (spark.range(1), NOT documents.limit(1)):
    # the stage axis must exist even over an empty corpus — the
    # oracle's VALUES clause always emits 5 rows — and a constant
    # seed keeps the corpus scan out of this branch of the plan
    stage_tbl = (
        spark.range(1)
        .select(F.explode(stages).alias("s"))
        .select("s.stage_idx", "s.stage")
    )
    # coalesce: SUM over an empty counts table is NULL, but the
    # oracle's COUNT(*) over an empty corpus is 0
    tot = counts.agg(
        F.coalesce(F.sum("n_docs"), F.lit(0)).cast("long").alias("total")
    )
    joined = (
        stage_tbl.join(F.broadcast(counts), "stage", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "stage_idx",
            "stage",
            F.coalesce(F.col("n_docs"), F.lit(0)).cast("long").alias(
                "n_docs"
            ),
            "total",
        )
        .transform(pin)
    )
    # running survivor count WITHOUT a global window (the plan sweep
    # bans unpartitioned windows regardless of input size): the
    # 5-row stage table theta-joins its own prefix — a broadcast
    # nested loop over a constant-sized side
    prefix = joined.select(
        F.col("stage_idx").alias("p_idx"), F.col("n_docs").alias("p_n")
    )
    cum = (
        joined.join(
            F.broadcast(prefix), F.col("p_idx") <= F.col("stage_idx")
        )
        .groupBy("stage_idx", "stage", "n_docs", "total")
        .agg(F.sum("p_n").cast("long").alias("cum_n"))
    )
    return cum.select(
        "stage_idx",
        "stage",
        "n_docs",
        (
            F.col("total")
            - F.col("cum_n")
            + F.when(F.col("stage") == "pass", F.col("n_docs")).otherwise(
                F.lit(0)
            )
        )
        .cast("long")
        .alias("n_remaining"),
    )


@query(
    "llm_ttr_curve",
    oracle=f"""
    WITH t AS (
        SELECT CASE WHEN len(str_split(text, ' ')) < 32 THEN 0
                    WHEN len(str_split(text, ' ')) < 64 THEN 1
                    WHEN len(str_split(text, ' ')) < 128 THEN 2
                    ELSE 3 END AS bucket,
               unnest(str_split(text, ' ')) AS word
        FROM documents
    ),
    w AS (SELECT bucket, word FROM t WHERE word <> '')
    SELECT bucket,
           CAST(COUNT(DISTINCT word) AS BIGINT) AS n_types,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           {sql_qround(
               'COUNT(DISTINCT word) / CAST(COUNT(*) AS DOUBLE)', 6)}
             AS ttr
    FROM w GROUP BY bucket
    """,
)
def llm_ttr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-token ratio by document-length bucket — the lexical-
    diversity curve (Herdan's law in bucket form): TTR falls as
    samples grow, so comparing sources at DIFFERENT lengths without
    bucketing is the classic corpus-linguistics mistake. Degenerate
    repetition (low TTR for its bucket) and keyword-stuffed spam
    (anomalously high) both fall off the curve — a quality signal
    llm_repetition_ratio (within-doc) doesn't see because it never
    pools types across documents.

    Buckets are fixed powers of two on whitespace token count
    (<32/<64/<128/rest), so assignment is a scan-side CASE. One
    explode → one (bucket, word)-keyed aggregate with the DISTINCT
    handled by Catalyst's two-phase Expand — partial aggregation
    still combines map-side, the shuffle carries (bucket, word)
    partials, never raw token streams. 4-row output at any corpus
    size; at 100 TB swap the exact DISTINCT for HLL per bucket, same
    plan."""
    docs = load_table(spark, sf_dir, "documents")
    nt = F.size(F.split("text", " "))
    bucket = (
        F.when(nt < 32, F.lit(0))
        .when(nt < 64, F.lit(1))
        .when(nt < 128, F.lit(2))
        .otherwise(F.lit(3))
    )
    w = (
        docs.select(
            bucket.alias("bucket"),
            F.explode(F.split("text", " ")).alias("word"),
        )
        .filter(F.col("word") != "")
    )
    return w.groupBy("bucket").agg(
        F.count_distinct("word").cast("long").alias("n_types"),
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        qround(
            F.count_distinct("word")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("ttr"),
    )


_DP_EPS = 1.0
_DP_ALPHA_NUM = 367879441  # floor(exp(-eps) * 1e9) for eps=1: the
_DP_ALPHA_DEN = 1000000000  # geometric-mechanism decay as an exact ratio


@query(
    "llm_dp_histogram",
    oracle=f"""
    WITH c AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS true_count
        FROM documents GROUP BY lang
    ),
    u AS (
        SELECT lang, true_count,
               list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                       list_transform(generate_series(1, len(lang)),
                           i -> CAST(ascii(substr(lang, i, 1)) AS BIGINT))),
                   (acc, ch) -> (acc * 31 + ch) % 1000003) % 1000000 AS h
        FROM c
    ),
    n AS (
        SELECT lang, true_count,
               (CAST(h % 1000 AS BIGINT) - 500) AS sgn_src,
               CAST(FLOOR({sql_qround(
                   'ln((CAST(h AS DOUBLE) + 0.5) / 1000000.0)'
                   f' / ln({_DP_ALPHA_NUM}'
                   f' / CAST({_DP_ALPHA_DEN} AS DOUBLE))', 9)}
               ) AS BIGINT) AS mag
        FROM u
    )
    SELECT lang, true_count,
           CASE WHEN sgn_src < 0 THEN -mag ELSE mag END AS noise,
           GREATEST(
               true_count
               + CASE WHEN sgn_src < 0 THEN -mag ELSE mag END,
               0) AS dp_count
    FROM n
    """,
)
def llm_dp_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private language histogram via the geometric
    mechanism (Ghosh-Roughgarden-Sundararajan 2009): each sensitivity-1
    count releases count + two-sided-geometric noise with decay
    α = e^(−ε), then clamps at 0 (post-processing preserves DP). The
    governance op a training-data release pipeline runs before
    publishing corpus composition stats.

    The noise magnitude is the geometric inverse-CDF ⌊ln(u)/ln(α)⌋
    applied to a DETERMINISTIC uniform u = (hash(lang) mod 10⁶ +
    ½)/10⁶ — deterministic so both engines (and reruns) release the
    identical histogram; production swaps u for a cryptographic RNG
    and keeps every other expression. NOTE the determinism means this
    query demonstrates the mechanism's plumbing (sensitivity, decay,
    clamp) — actual privacy requires the real sampler, stated here
    per the honest-stub discipline. The uniform comes from the repo's
    cross-engine :func:`poly_hash` (Horner mod 1e6+3) on the lang
    string, replayed exactly in the oracle's list_reduce. The one
    float step ⌊ln(u)/ln(α)⌋ is qround(9)-guarded before the floor
    (the threshold-predicate rule: last-ulp ln drift must not flip a
    near-integer quotient); sign is an integer parity test — the
    emitted columns are exact int64.

    Shape: one aggregate to the lang-sized table, then map-side
    noise expressions. Nothing corpus-sized after the count."""
    docs = load_table(spark, sf_dir, "documents")
    c = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("true_count")
    )
    h = poly_hash(F.col("lang")) % 1000000
    u = (h.cast("double") + F.lit(0.5)) / F.lit(1000000.0)
    alpha = F.lit(_DP_ALPHA_NUM) / F.lit(float(_DP_ALPHA_DEN))
    mag = F.floor(qround(F.log(u) / F.log(alpha), 9)).cast("long")
    sgn_src = (h % 1000 - 500).cast("long")
    noise = F.when(sgn_src < 0, -mag).otherwise(mag)
    return c.select(
        "lang",
        "true_count",
        noise.alias("noise"),
        F.greatest(
            F.col("true_count") + noise, F.lit(0).cast("long")
        ).alias("dp_count"),
    )


_LSR_MAX_L = 16


def _lsr_dup_sql(lv: str) -> str:
    """DuckDB fragment: does some lv-gram repeat within tk? (count of
    grams exceeds distinct count)."""
    grams = (
        f"list_transform(generate_series(1, len(tk) - {lv} + 1),"
        f" i -> array_to_string(tk[i:i + {lv} - 1], ' '))"
    )
    return f"len({grams}) > len(list_distinct({grams}))"



@query(
    "llm_longest_self_repeat",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               list_filter(str_split(text, ' '), w -> w <> '') AS tk
        FROM documents
    ),
    t2 AS (
        SELECT doc_id, tk,
               LEAST(len(tk) - 1, {_LSR_MAX_L}) AS m
        FROM t
    ),
    r AS (
        SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
               CAST(CASE WHEN m >= 8 AND {_lsr_dup_sql('8')}
                    THEN COALESCE(list_max(list_transform(
                             generate_series(8, m),
                             l -> CASE WHEN {_lsr_dup_sql('l')}
                                  THEN l ELSE 0 END)), 0)
                    ELSE COALESCE(list_max(list_transform(
                             generate_series(1, LEAST(7, m)),
                             l -> CASE WHEN {_lsr_dup_sql('l')}
                                  THEN l ELSE 0 END)), 0)
               END AS BIGINT) AS longest_repeat
        FROM t2
    )
    SELECT doc_id, n_tokens, longest_repeat,
           CASE WHEN n_tokens > 0 THEN
               {sql_qround(
                   'longest_repeat / CAST(n_tokens AS DOUBLE)', 6)}
           END AS repeat_ratio
    FROM r
    """,
)
def llm_longest_self_repeat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest WITHIN-document exact token repeat: the largest ℓ
    (capped at 16, contractual) such that some ℓ-gram occurs twice in
    the same document — the self-repetition signal Lee et al. 2022
    and degenerate-generation detectors key on (a looping model emits
    long exact self-repeats; llm_repetition_ratio's one-token share
    misses multi-token loops entirely). repeat_ratio = ℓ/n_tokens is
    the comparable-across-lengths form.

    Entirely MAP-SIDE: per document, one nested array expression —
    for each probe length, build the ℓ-grams and compare count vs
    distinct count (a repeat exists iff they differ); the outer
    array_max picks the longest. The repeat-at-ℓ property is monotone
    downward, so the flat scan over ℓ ∈ 1..16 computes the true max
    within the cap; docs shorter than 2 tokens yield 0 via the
    guarded CASE (the ANSI descending-sequence trap). Zero shuffles,
    zero Python — at 100 TB this is scan-speed quality scoring, cost
    O(n·ℓmax) string builds per doc, bounded by the cap."""
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")

    def dup(lv):
        g = (
            f"transform(sequence(1, size(tk) - {lv} + 1),"
            f" i -> array_join(slice(tk, i, {lv}), ' '))"
        )
        # r15: bind the gram array ONCE via a 1-element transform —
        # HOFs are interpreted (no codegen subexpression elimination),
        # so the textual size(g) > size(array_distinct(g)) form built
        # every probed length's gram array TWICE; `_g` halves the
        # O(n·l) string builds. `_g` cannot collide with the inner `i`
        # or any outer probe var (the `_ci` helper-inlining rule).
        return (
            f"transform(array({g}),"
            f" _g -> (size(_g) > size(array_distinct(_g))))[0]"
        )

    m = f"least(size(tk) - 1, {_LSR_MAX_L})"
    scan_hi = (
        f"coalesce(array_max(transform(sequence(8, {m}), "
        f"l -> IF({dup('l')}, l, 0))), 0)"
    )
    scan_lo = (
        f"coalesce(array_max(transform(sequence(1, least(7, {m})), "
        f"l -> IF({dup('l')}, l, 0))), 0)"
    )
    # binary split on the monotone dup-at-length property (a repeated
    # l-gram contains repeated (l-1)-grams at the same positions):
    # one probe at l = 8 halves the lengths actually scanned —
    # measured 23.3 -> 10.6 s at the 50k probe, 2.6 -> 1.0 s at sf0.1
    expr = (
        "CASE WHEN size(tk) >= 2 THEN "
        f"CASE WHEN {m} >= 8 AND {dup('8')} THEN {scan_hi} "
        f"ELSE {scan_lo} END "
        "ELSE 0 END"
    )
    r = docs.select(
        "doc_id",
        F.expr("filter(split(text, ' '), w -> w != '')").alias("tk"),
    ).select(
        "doc_id",
        F.size("tk").cast("long").alias("n_tokens"),
        F.expr(expr).cast("long").alias("longest_repeat"),
    )
    return r.select(
        "doc_id",
        "n_tokens",
        "longest_repeat",
        F.when(
            F.col("n_tokens") > 0,
            qround(
                F.col("longest_repeat")
                / F.col("n_tokens").cast("double"),
                6,
            ),
        ).alias("repeat_ratio"),
    )


_SC_STRIDE = 4   # span starts only at positions 1 mod 4 (non-overlap)
_SC_LEN = 3      # corrupted span length (<= stride, so spans never touch)
_SC_P = 100003


@query(
    "llm_span_corruption",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               list_filter(str_split(text, ' '), w -> w <> '') AS tk
        FROM documents
    ),
    s AS (
        SELECT doc_id, tk, len(tk) AS n,
               list_filter(generate_series(1, len(tk)),
                   i -> (i % {_SC_STRIDE}) = 1
                        AND (((doc_id % {_SC_P}) * 31 + i)
                             * 2654435761 % 1000003) % 3 = 0) AS starts
        FROM t
    )
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_tokens,
           CAST(len(starts) AS BIGINT) AS n_spans,
           COALESCE(array_to_string(list_filter(list_transform(
               generate_series(1, n),
               j -> CASE
                 WHEN list_contains(starts, j - ((j - 1) % {_SC_STRIDE}))
                      AND j <= j - ((j - 1) % {_SC_STRIDE}) + {_SC_LEN - 1}
                 THEN CASE WHEN (j % {_SC_STRIDE}) = 1
                      THEN '<extra_id_'
                           || CAST(list_position(starts, j) - 1 AS VARCHAR)
                           || '>'
                      ELSE NULL END
                 ELSE tk[j] END),
               x -> x IS NOT NULL), ' '), '') AS input_text,
           COALESCE(array_to_string(list_transform(starts,
               (st, k) -> '<extra_id_' || CAST(k - 1 AS VARCHAR) || '> '
                   || array_to_string(tk[st:least(st + {_SC_LEN - 1}, n)],
                                      ' ')), ' '), '')
               || CASE WHEN len(starts) > 0 THEN ' ' ELSE '' END
               || '<extra_id_' || CAST(len(starts) AS VARCHAR) || '>'
               AS target_text
    FROM s
    """,
)
def llm_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span corruption (Raffel et al. 2020): contiguous
    3-token spans are replaced in the INPUT by numbered sentinels and
    moved to the TARGET as "<extra_id_k> span tokens…", terminated by
    the closing sentinel — the seq2seq denoising objective's actual
    data transform (llm_mask_tokens is the single-token BERT form;
    span corruption is what T5/UL2 pipelines materialize, and the
    input/target PAIR construction is the part that's easy to get
    silently wrong).

    Determinism and non-overlap by construction: only positions
    ≡ 1 (mod 4) are eligible span starts (span length 3 < stride 4,
    so spans can never touch — no sequential scan needed to enforce
    separation), and a start fires on a multiplicative hash of
    (doc_id mod P, position), reduced mod 1000003 BEFORE the final
    mod 3 — the direct form was degenerate (31 and 2654435761 are
    both ≡ 1 mod 3, collapsing the 'hash' to (doc_id + i) mod 3, a
    fixed 12-token lattice; round-6 review, third pass). RNG-free, so
    reruns produce identical pairs (the split_train_test
    discipline). ≈ 1/3 of eligible
    starts fire ⟹ ≈ 25% of tokens corrupted, the T5 default ballpark.
    Sentinel ids are span ranks (list_position over the starts
    array); the oracle replays every array expression with DuckDB's
    1-based lambdas (index alignment pinned as in llm_mask_tokens).

    Map-only: one pass of array expressions over the scan, zero
    shuffles, zero Python — scan-speed pretraining-pair generation at
    any corpus size."""
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    base = docs.select(
        "doc_id",
        F.expr("filter(split(text, ' '), w -> w != '')").alias("tk"),
    ).select(
        "doc_id",
        "tk",
        F.size("tk").alias("n"),
        F.expr(
            f"CASE WHEN size(tk) >= 1 THEN "
            f"filter(sequence(1, size(tk)), "
            f"i -> i % {_SC_STRIDE} = 1 AND "
            f"((doc_id % {_SC_P}) * 31 + i) * 2654435761 % 1000003 % 3 = 0) "
            f"ELSE CAST(array() AS array<int>) END"
        ).alias("starts"),
    )
    in_span = (
        f"array_contains(starts, j - (j - 1) % {_SC_STRIDE}) "
        f"AND j <= j - (j - 1) % {_SC_STRIDE} + {_SC_LEN - 1}"
    )
    input_text = F.expr(
        "array_join(filter(transform(sequence(1, greatest(n, 1)), "
        f"j -> CASE WHEN j <= n AND ({in_span}) THEN "
        f"IF(j % {_SC_STRIDE} = 1, "
        "concat('<extra_id_', "
        "cast(array_position(starts, j) - 1 AS string), '>'), NULL) "
        "WHEN j <= n THEN element_at(tk, j) ELSE NULL END), "
        "x -> x IS NOT NULL), ' ')"
    )
    target_text = F.expr(
        "concat(coalesce(array_join(zip_with(starts, "
        "sequence(1, greatest(size(starts), 1)), "
        "(st, k) -> IF(st IS NULL OR k > size(starts), NULL, "
        "concat('<extra_id_', cast(k - 1 AS string), '> ', "
        f"array_join(slice(tk, st, least({_SC_LEN}, n - st + 1)), ' ')))"
        "), ' '), ''), "
        "IF(size(starts) > 0, ' ', ''), "
        "concat('<extra_id_', cast(size(starts) AS string), '>'))"
    )
    return base.select(
        "doc_id",
        F.col("n").cast("long").alias("n_tokens"),
        F.size("starts").cast("long").alias("n_spans"),
        input_text.alias("input_text"),
        target_text.alias("target_text"),
    )


_CDC_W = 4        # rolling-hash window (tokens)
_CDC_MASK = 16    # boundary when window hash % 16 == 0 (~16-token chunks)


def cdc_chunks(docs: DataFrame) -> DataFrame:
    """Content-defined chunk explode shared by the batch query
    (:func:`llm_cdc_chunk_dedup`) and the streaming maintenance path
    (streaming/pipeline.py) so their chunk spaces are identical:
    (doc_id, c.chash, c.clen) — token poly-hashes, window-4 rolling
    Horner boundary gate mod 16, per-chunk Horner id, forced boundary
    at the document end."""
    tk = F.filter(F.split("text", " "), lambda w: w != F.lit(""))
    h = docs.select(
        "doc_id",
        F.transform(tk, poly_hash).alias("hw"),
    ).withColumn("n", F.size("hw")).filter(F.col("n") > 0)
    P = _FH_P
    rolling = (
        f"(((element_at(hw, i - 3) * 131 + element_at(hw, i - 2)) % {P}"
        f" * 131 + element_at(hw, i - 1)) % {P} * 131"
        f" + element_at(hw, i)) % {P}"
    )
    b = h.withColumn(
        "bpos",
        F.expr(
            f"CASE WHEN n >= {_CDC_W + 1} THEN "
            f"filter(sequence({_CDC_W}, n - 1),"
            f" i -> ({rolling}) % {_CDC_MASK} = 0) "
            "ELSE cast(array() AS array<int>) END"
        ),
    ).withColumn("ends", F.expr("concat(bpos, array(int(n)))"))
    return b.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(ends)), j -> struct("
                " aggregate(slice(hw,"
                "   CASE WHEN j = 1 THEN 1 ELSE element_at(ends, j - 1) + 1 END,"
                "   element_at(ends, j)"
                "   - CASE WHEN j = 1 THEN 1 ELSE element_at(ends, j - 1) + 1 END"
                "   + 1), cast(0 AS bigint),"
                f"  (acc, x) -> (acc * 131 + x) % {P}) AS chash,"
                " element_at(ends, j)"
                "   - CASE WHEN j = 1 THEN 1 ELSE element_at(ends, j - 1) + 1 END"
                "   + 1 AS clen))"
            )
        ).alias("c"),
    )
_PH_SQL = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT),"
    " list_transform(generate_series(1, len({w})),"
    " i -> CAST(ascii(substr({w}, i, 1)) AS BIGINT))),"
    f" (acc, c) -> (acc * 31 + c) % {1_000_003})"
)


@query(
    "llm_cdc_chunk_dedup",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, list_filter(str_split(text, ' '), w -> w <> '') AS tk
      FROM documents
    ),
    h AS (
      SELECT doc_id, len(tk) AS n,
             list_transform(tk, w -> {_PH_SQL.format(w='w')}) AS hw
      FROM t
    ),
    b AS (
      SELECT doc_id, n, hw,
             CASE WHEN n >= {_CDC_W + 1} THEN
               list_filter(generate_series({_CDC_W}, n - 1),
                 i -> ((((hw[i - 3] * 131 + hw[i - 2]) % {_FH_P} * 131
                         + hw[i - 1]) % {_FH_P} * 131
                        + hw[i]) % {_FH_P}) % {_CDC_MASK} = 0)
             ELSE [] END AS bpos
      FROM h WHERE n > 0
    ),
    e AS (
      SELECT doc_id, hw, list_append(bpos, n) AS ends
      FROM b
    ),
    ch AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(ends)),
               j -> {{'chash': list_reduce(
                         list_prepend(CAST(0 AS BIGINT),
                           hw[(CASE WHEN j = 1 THEN 1
                                    ELSE ends[j - 1] + 1 END):ends[j]]),
                         (acc, x) -> (acc * 131 + x) % {_FH_P}),
                     'clen': ends[j] - (CASE WHEN j = 1 THEN 1
                                             ELSE ends[j - 1] + 1 END)
                             + 1}})) AS c
      FROM e
    )
    SELECT c.chash AS chunk_hash,
           CAST(MIN(c.clen) AS BIGINT) AS chunk_len,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_occ
    FROM ch
    GROUP BY c.chash
    HAVING COUNT(DISTINCT doc_id) >= 2
    """,
)
def llm_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup (the FastCDC/LBFS recipe on
    token streams): split every document at positions where the
    4-token rolling Horner hash ≡ 0 (mod 16) — boundaries move WITH
    the content, so an insertion early in a near-duplicate shifts
    chunk offsets without changing the chunks downstream of it, which
    is exactly what fixed-stride chunking (llm_chunk_documents) loses
    — then report every chunk hash appearing in ≥ 2 distinct
    documents. The storage/transfer dedup primitive applied to
    corpus curation: shared boilerplate passages surface as
    high-n_docs chunks even when the surrounding documents differ.

    Everything is the cross-engine Horner arithmetic
    (:func:`poly_hash` per token, a window-4 fold for the boundary
    gate, a per-chunk fold for the chunk id — all mod 1,000,003), so
    the op carries a FULL value-hash oracle, unlike xxhash64 chunking
    would. A forced boundary at the document end makes chunking total;
    documents shorter than 5 tokens are one chunk.

    100 TB shape: map-side array expressions to the chunk explode,
    then ONE hash aggregate keyed by chunk_hash — the same
    partition-by-content-hash scale story as llm_dedup_exact, with
    chunk granularity instead of whole-doc. Min() over clen is
    constant per chash (same hash ⟹ same span ⟹ same length modulo
    the 1e-12 collision rate) — min just makes the emit
    deterministic."""
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    return (
        cdc_chunks(docs)
        .groupBy(F.col("c.chash").alias("chunk_hash"))
        .agg(
            F.min("c.clen").cast("long").alias("chunk_len"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_occ"),
        )
        .filter(F.col("n_docs") >= 2)
    )


_STITCH_K = 4  # overlap length verified for the stitch join (demo k;
               # shard-boundary stitching in production uses 64-256)


@query(
    "llm_overlap_stitch",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, list_filter(str_split(text, ' '), w -> w <> '') AS tk
      FROM documents
    ),
    s AS (
      SELECT doc_id AS doc_a, len(tk) AS n_a,
             tk[-{_STITCH_K}:] AS suf,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(tk[-{_STITCH_K}:],
                     w -> {_PH_SQL.format(w='w')})),
                 (acc, x) -> (acc * 131 + x) % {_FH_P}) AS sh
      FROM t WHERE len(tk) >= {_STITCH_K}
    ),
    p AS (
      SELECT doc_id AS doc_b, len(tk) AS n_b,
             tk[1:{_STITCH_K}] AS pre,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(tk[1:{_STITCH_K}],
                     w -> {_PH_SQL.format(w='w')})),
                 (acc, x) -> (acc * 131 + x) % {_FH_P}) AS ph
      FROM t WHERE len(tk) >= {_STITCH_K}
    )
    SELECT s.doc_a, p.doc_b,
           CAST(s.n_a AS BIGINT) AS n_a, CAST(p.n_b AS BIGINT) AS n_b,
           CAST({_STITCH_K} AS BIGINT) AS overlap
    FROM s JOIN p ON s.sh = p.ph AND s.doc_a <> p.doc_b
    WHERE s.suf = p.pre
    """,
)
def llm_overlap_stitch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-boundary overlap detection: document A's last k tokens
    equal document B's first k tokens — the signature of one source
    text split across two scraped/sharded records (crawl segment
    boundaries, chunked uploads, paginated articles). Emitting the
    (A → B) stitch edges lets curation re-join split documents or
    drop the duplicated overlap region before training; neither
    whole-doc dedup (different content) nor near-dup (low global
    Jaccard) catches this shape.

    Block-then-verify like every pair op here: a Horner hash of the
    k-token suffix equi-joins to prefix hashes (k = 4 at fixture
    scale — production shard stitching uses 64-256), then the actual
    token arrays confirm equality, so a 1-in-1e6 hash collision
    cannot mint a false edge. Both the per-token hash and the span
    fold are the cross-engine poly_hash arithmetic — full value-hash
    oracle.

    100 TB shape: two map-side projections of the same scan (suffix
    table, prefix table — each one hash + k tokens per doc, narrow),
    one hash equi-join on the span hash; candidates = hash-equal
    pairs only, never corpus². Bucketing both projections by the
    span hash makes the join exchange-free."""
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    tk = F.filter(F.split("text", " "), lambda w: w != F.lit(""))
    t = docs.select("doc_id", tk.alias("tk")).filter(
        F.size("tk") >= _STITCH_K
    )
    P = _FH_P
    span_hash = (
        f"aggregate(transform({{span}}, w -> aggregate("
        "transform(sequence(1, length(w)),"
        " i -> cast(ascii(substring(w, i, 1)) AS bigint)),"
        f" cast(0 AS bigint), (acc, c) -> (acc * 31 + c) % {P})),"
        f" cast(0 AS bigint), (acc, x) -> (acc * 131 + x) % {P})"
    )
    s = t.select(
        F.col("doc_id").alias("doc_a"),
        F.size("tk").cast("long").alias("n_a"),
        F.expr(f"slice(tk, -{_STITCH_K}, {_STITCH_K})").alias("suf"),
        F.expr(
            span_hash.format(span=f"slice(tk, -{_STITCH_K}, {_STITCH_K})")
        ).alias("sh"),
    )
    p = t.select(
        F.col("doc_id").alias("doc_b"),
        F.size("tk").cast("long").alias("n_b"),
        F.expr(f"slice(tk, 1, {_STITCH_K})").alias("pre"),
        F.expr(
            span_hash.format(span=f"slice(tk, 1, {_STITCH_K})")
        ).alias("ph"),
    )
    return (
        s.join(p, (F.col("sh") == F.col("ph")) & (F.col("doc_a") != F.col("doc_b")))
        .filter(F.col("suf") == F.col("pre"))
        .select(
            "doc_a",
            "doc_b",
            "n_a",
            "n_b",
            F.lit(_STITCH_K).cast("long").alias("overlap"),
        )
    )


_WM_GAMMA_DEN = 4  # greenlist fraction gamma = 1/4
_WM_Z_FLAG = 2.0   # flag threshold (z >= 2 ~ p < 0.023 one-sided)


@query(
    "llm_watermark_detect",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, list_filter(str_split(text, ' '), w -> w <> '') AS tk
      FROM documents
    ),
    g AS (
      SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
             CAST(len(list_filter(tk,
                 w -> {_PH_SQL.format(w='w')} % {_WM_GAMMA_DEN} = 0))
               AS BIGINT) AS n_green
      FROM t
    )
    SELECT doc_id, n_tokens, n_green,
           CASE WHEN n_tokens > 0
                THEN {sql_qround(
                    'CAST(4 * n_green - n_tokens AS DOUBLE)'
                    ' / sqrt(3.0 * n_tokens)', 6)}
           END AS z,
           CASE WHEN n_tokens > 0
                THEN CAST(4 * n_green - n_tokens AS DOUBLE)
                     / sqrt(3.0 * n_tokens) >= {_WM_Z_FLAG}
                ELSE FALSE END AS flagged
    FROM g
    """,
)
def llm_watermark_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greenlist watermark detection (Kirchenbauer et al. 2023): a
    watermarking sampler boosts a pseudorandom γ-fraction "green"
    vocabulary subset, so watermarked text shows a green-token excess
    the one-proportion z-test exposes: z = (g − γn)/√(nγ(1−γ)) with
    γ = 1/4 and the greenlist defined by poly_hash(token) mod 4 = 0.
    Run over a training corpus this flags machine-generated
    (watermarked) documents BEFORE they contaminate the next model's
    training set — the synthetic-text governance sibling of
    llm_decontaminate (benchmark leakage) and llm_lm_crossentropy
    (fluency outliers).

    Integer core: the green count and 4g − n are exact int64 (γ=1/4
    multiplies through), z is one double division over integers —
    qround(6) — and the flag gate compares the SAME expression both
    engines evaluate identically (√ of an integer-valued double is
    IEEE-exact). Empty documents NULL z and flag false.

    100 TB shape: pure map-side membership count per document (the
    greenlist is a hash predicate, not a table), zero shuffles —
    detection cost is one corpus scan."""
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    tk = F.filter(F.split("text", " "), lambda w: w != F.lit(""))
    g = docs.select(
        "doc_id",
        F.size(tk).cast("long").alias("n_tokens"),
        F.size(
            F.filter(tk, lambda w: poly_hash(w) % _WM_GAMMA_DEN == 0)
        )
        .cast("long")
        .alias("n_green"),
    )
    z = (F.lit(4) * F.col("n_green") - F.col("n_tokens")).cast(
        "double"
    ) / F.sqrt(F.lit(3.0) * F.col("n_tokens"))
    return g.select(
        "doc_id",
        "n_tokens",
        "n_green",
        F.when(F.col("n_tokens") > 0, qround(z, 6)).alias("z"),
        F.when(F.col("n_tokens") > 0, z >= F.lit(_WM_Z_FLAG))
        .otherwise(F.lit(False))
        .alias("flagged"),
    )


_PCS_KS = (2, 4, 8, 16)  # prefix lengths probed (tokens)


@query(
    "llm_prefix_cache_stats",
    oracle=f"""
    WITH tt AS (
      SELECT doc_id, list_filter(str_split(text, ' '), w -> w <> '') AS tk
      FROM documents
    ),
    ex AS (
      SELECT ks.k AS prefix_k,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(tk[1:ks.k],
                     w -> {_PH_SQL.format(w="w")})),
                 (acc, x) -> (acc * 131 + x) % {_FH_P}) AS ph
      FROM tt, (VALUES (2), (4), (8), (16)) ks(k)
      WHERE len(tk) >= ks.k
    ),
    g AS (
      SELECT prefix_k, ph, CAST(COUNT(*) AS BIGINT) AS c
      FROM ex GROUP BY prefix_k, ph
    ),
    a AS (
      SELECT prefix_k,
             CAST(SUM(c) AS BIGINT) AS n_docs_eligible,
             CAST(COALESCE(SUM(c) FILTER (WHERE c >= 2), 0) AS BIGINT)
                 AS n_docs_shared,
             CAST(COUNT(*) FILTER (WHERE c >= 2) AS BIGINT)
                 AS n_shared_groups,
             CAST(COALESCE(SUM((c - 1) * prefix_k)
                           FILTER (WHERE c >= 2), 0) AS BIGINT)
                 AS saved_tokens
      FROM g GROUP BY prefix_k
    )
    SELECT ks.k AS prefix_k,
           CAST(COALESCE(n_docs_eligible, 0) AS BIGINT) AS n_docs_eligible,
           CAST(COALESCE(n_docs_shared, 0) AS BIGINT) AS n_docs_shared,
           CAST(COALESCE(n_shared_groups, 0) AS BIGINT) AS n_shared_groups,
           CAST(COALESCE(saved_tokens, 0) AS BIGINT) AS saved_tokens
    FROM (VALUES (2), (4), (8), (16)) ks(k)
    LEFT JOIN a ON a.prefix_k = ks.k
    """,
)
def llm_prefix_cache_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-cache hit analysis for LLM serving/training: at each
    probe length k ∈ 2/4/8/16 tokens, how many documents share their
    first k tokens with another document — n_shared_groups distinct
    shared prefixes, n_docs_shared documents in them, and
    saved_tokens = Σ_group (size−1)·k, the KV-cache token mass a
    prefix cache (vLLM-style automatic prefix caching / prompt
    caching) would not recompute at that granularity. Corpora with
    templated prompts show saved_tokens growing with k; fully
    distinct corpora collapse to zero — the number that decides
    whether prefix caching is worth deploying on a workload.

    Prefix identity is the cross-engine Horner fold over the first k
    token hashes (full value-hash oracle). The exemption of one
    mandatory cold fill per shared group needs no per-row ranking:
    saved_tokens = Σ_group (c − 1)·k depends only on group SIZES, so
    the whole query is two keyed aggregates — no window at all.

    100 TB shape (fused, VERDICT r7 item 5 — replaces the original
    4-independent-passes × 2-windows form, census 12 shuffles → 2):
    one map-side explode of k ∈ {{2,4,8,16}} per eligible doc (≤ 4
    rows of (k, 8-byte hash) each), ONE map-side-combined hash
    aggregate to (k, prefix)-group sizes, then a 4-row per-k
    re-aggregate; a broadcast left join against the static k dim
    keeps empty-k rows present (all-short corpora emit zeros, not
    missing rows — pinned in tests/test_edge_inputs.py)."""
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    tk = F.filter(F.split("text", " "), lambda w: w != F.lit(""))
    tt = docs.select("doc_id", tk.alias("tk"))
    P = _FH_P
    ks_arr = F.array(*[F.lit(k) for k in _PCS_KS])

    def _pair(k):
        return F.struct(
            k.alias("prefix_k"),
            F.aggregate(
                F.transform(F.slice("tk", F.lit(1), k), poly_hash),
                F.lit(0).cast("long"),
                lambda acc, x: (acc * 131 + x) % P,
            ).alias("ph"),
        )

    ex = tt.select(
        F.explode(
            F.transform(
                F.filter(ks_arr, lambda k: k <= F.size("tk")), _pair
            )
        ).alias("p")
    ).select("p.prefix_k", "p.ph")
    g = ex.groupBy("prefix_k", "ph").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    c = F.col("c")
    a = g.groupBy("prefix_k").agg(
        F.sum(c).cast("long").alias("n_docs_eligible"),
        F.coalesce(F.sum(F.when(c >= 2, c)), F.lit(0))
        .cast("long")
        .alias("n_docs_shared"),
        F.coalesce(F.sum(F.when(c >= 2, 1)), F.lit(0))
        .cast("long")
        .alias("n_shared_groups"),
        F.coalesce(F.sum(F.when(c >= 2, (c - 1) * F.col("prefix_k"))), F.lit(0))
        .cast("long")
        .alias("saved_tokens"),
    )
    kdim = spark.createDataFrame(
        [(k,) for k in _PCS_KS], "prefix_k int"
    )
    return kdim.join(F.broadcast(a), "prefix_k", "left").select(
        "prefix_k",
        *[
            F.coalesce(F.col(col), F.lit(0)).cast("long").alias(col)
            for col in (
                "n_docs_eligible",
                "n_docs_shared",
                "n_shared_groups",
                "saved_tokens",
            )
        ],
    )


# ---------------------------------------------------------------------------
# Quality-classifier feature export + bucketed bin packing (round 8)
# ---------------------------------------------------------------------------


@query(
    "llm_quality_features",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, lang,
             list_filter(str_split(text, ' '), w -> w <> '') AS tk,
             length(text) AS n_chars
      FROM documents
    ),
    base AS (
      SELECT doc_id, lang, n_chars, CAST(len(tk) AS BIGINT) AS n_tokens,
             CASE WHEN len(tk) > 0
                  THEN CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk)
             END AS ttr_raw,
             CASE WHEN len(tk) > 0
                  THEN CAST(COALESCE(list_sum(
                           list_transform(tk, w -> length(w))), 0) AS DOUBLE)
                       / len(tk)
             END AS mwl_raw,
             CASE WHEN len(tk) > 0
                  THEN CAST(len(list_filter(tk,
                           w -> regexp_matches(w, '[a-zA-Z]'))) AS DOUBLE)
                       / len(tk)
             END AS alpha_raw,
             CASE WHEN len(tk) > 0
                  THEN CAST(len(list_filter(tk,
                           w -> list_contains([{_STOP_SQL}], w))) AS DOUBLE)
                       / len(tk)
             END AS stop_raw,
             CASE WHEN len(tk) >= 2
                  THEN CAST(len(list_distinct(list_transform(
                           generate_series(1, len(tk) - 1),
                           i -> tk[i] || chr(1) || tk[i + 1]))) AS DOUBLE)
                       / (len(tk) - 1)
             END AS bttr_raw
      FROM s
    ),
    counts AS (
      SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS n FROM (
        SELECT doc_id, unnest(str_split(text, ' ')) AS word FROM documents
      ) t WHERE word <> '' GROUP BY doc_id, word
    ),
    vocab AS (
      SELECT word, CAST(SUM(n) AS BIGINT) AS c FROM counts GROUP BY word
    ),
    tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS total FROM vocab),
    perdoc AS (
      SELECT doc_id,
             CAST(MAX(n) AS BIGINT) AS top_cnt,
             CAST(SUM(n) AS BIGINT) AS nt,
             SUM(n * LN(v.c / t.total)) AS lpsum
      FROM counts JOIN vocab v USING (word), tot t
      GROUP BY doc_id
    )
    SELECT b.doc_id, b.lang, b.n_tokens,
           FLOOR(ttr_raw * 1000000.0 + 0.5) / 1000000.0 AS ttr,
           FLOOR(mwl_raw * 1000000.0 + 0.5) / 1000000.0 AS mean_word_len,
           FLOOR(alpha_raw * 1000000.0 + 0.5) / 1000000.0 AS alpha_frac,
           FLOOR(stop_raw * 1000000.0 + 0.5) / 1000000.0 AS stop_frac,
           FLOOR(bttr_raw * 1000000.0 + 0.5) / 1000000.0 AS bigram_ttr,
           CASE WHEN p.nt > 0
                THEN FLOOR(CAST(p.top_cnt AS DOUBLE) / p.nt
                           * 1000000.0 + 0.5) / 1000000.0
           END AS top_frac,
           CASE WHEN p.nt > 0
                THEN FLOOR(p.lpsum / p.nt * 1000000.0 + 0.5) / 1000000.0
           END AS mean_logprob,
           COALESCE(b.n_tokens >= 10 AND mwl_raw >= 2.0 AND mwl_raw <= 12.0
                    AND alpha_raw >= 0.7 AND stop_raw > 0.0, FALSE)
               AS gopher_pass
    FROM base b LEFT JOIN perdoc p ON b.doc_id = p.doc_id
    """,
)
def llm_quality_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-classifier feature-vector export (VERDICT r7 item 7):
    one training-ready table joining the corpus quality signals the
    individual ops report separately — type-token ratio and bigram
    TTR (compressibility proxies for the zlib signal), mean word
    length / alphabetic fraction / stop-word fraction (the Gopher
    rule family, Rae et al. 2021 §A1.1), top-token share (repetition),
    unigram mean log-probability (the CCNet-style perplexity proxy,
    Wenzek et al. 2020), and the composed boolean Gopher gate. This
    is the table a fastText/logreg quality classifier trains on —
    label column joined by the caller.

    Shape: the map-only features ride the scan; ONE corpus explode
    builds (doc_id, word) counts, localCheckpointed because it feeds
    BOTH the per-doc branch (top count, token total, logprob sum) and
    the vocab branch (word totals → broadcast back); one doc-keyed
    left join stitches the branches. Ratios guard zero denominators
    (ANSI + edge fixtures: empty docs emit NULL features, absent
    explode rows LEFT-JOIN to NULL top_frac/mean_logprob, empty
    corpus yields zero rows). qround(6) floor-form everywhere.

    Parity class (ADVICE r8): mean_logprob is qround(lpsum/nt, 6)
    where lpsum is an order-dependent float sum of n·ln(c/total)
    terms each engine accumulates in its own order — the accepted
    chi-square-precedent class for unavoidable libm sums, here with
    ONE qround(6) boundary-flip opportunity PER DOCUMENT rather than
    per corpus (flake probability ≈ n_docs · sum_spread/grid ≈
    5000 · 1e-13/1e-6 ≈ 5e-4 at sf0.1 — accepted; a flip is a
    comparator artifact, not an engine defect, and shows up only as
    a one-row hash mismatch that re-running reproduces with the same
    magnitude-1e-13 delta).

    100 TB: 3 corpus-scale shuffles (doc-word agg, per-doc agg, the
    doc-keyed stitch join) + vocab-sized broadcasts — same bill as
    llm_unigram_logprob plus one join; never a second text scan."""
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    tk = F.filter(F.split("text", " "), lambda w: w != F.lit(""))
    n = F.size("tk")
    nd = n.cast("double")
    stop_arr = F.array(*[F.lit(w) for w in _STOPWORDS])
    big = F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.concat(
            F.element_at("tk", i), F.lit("\x01"), F.element_at("tk", i + 1)
        ),
    )
    base = docs.select("doc_id", "lang", tk.alias("tk")).select(
        "doc_id",
        "lang",
        n.cast("long").alias("n_tokens"),
        F.when(n > 0, F.size(F.array_distinct("tk")) / nd).alias("ttr_raw"),
        F.when(
            n > 0,
            F.aggregate(
                F.transform("tk", F.length),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).cast("double")
            / nd,
        ).alias("mwl_raw"),
        F.when(
            n > 0,
            F.size(F.filter("tk", lambda w: w.rlike("[a-zA-Z]"))) / nd,
        ).alias("alpha_raw"),
        F.when(
            n > 0,
            F.size(
                F.filter("tk", lambda w: F.array_contains(stop_arr, w))
            )
            / nd,
        ).alias("stop_raw"),
        F.when(
            n >= 2, F.size(F.array_distinct(big)) / (nd - F.lit(1.0))
        ).alias("bttr_raw"),
    )
    counts = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .transform(pin)
    )
    vocab = counts.groupBy("word").agg(F.sum("n").cast("long").alias("c"))
    total = vocab.agg(F.sum("c").cast("double").alias("total"))
    perdoc = (
        counts.join(F.broadcast(vocab), "word")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.max("n").cast("long").alias("top_cnt"),
            F.sum("n").cast("long").alias("nt"),
            F.sum(
                F.col("n") * F.log(F.col("c") / F.col("total"))
            ).alias("lpsum"),
        )
    )
    out = base.join(perdoc, "doc_id", "left")
    nt = F.col("nt")
    return out.select(
        "doc_id",
        "lang",
        "n_tokens",
        qround(F.col("ttr_raw"), 6).alias("ttr"),
        qround(F.col("mwl_raw"), 6).alias("mean_word_len"),
        qround(F.col("alpha_raw"), 6).alias("alpha_frac"),
        qround(F.col("stop_raw"), 6).alias("stop_frac"),
        qround(F.col("bttr_raw"), 6).alias("bigram_ttr"),
        F.when(nt > 0, qround(F.col("top_cnt") / nt.cast("double"), 6)).alias(
            "top_frac"
        ),
        F.when(nt > 0, qround(F.col("lpsum") / nt, 6)).alias("mean_logprob"),
        F.coalesce(
            (F.col("n_tokens") >= 10)
            & (F.col("mwl_raw") >= 2.0)
            & (F.col("mwl_raw") <= 12.0)
            & (F.col("alpha_raw") >= 0.7)
            & (F.col("stop_raw") > 0.0),
            F.lit(False),
        ).alias("gopher_pass"),
    )


_PACK_CTX = 8192  # packing-v2 context budget (tokens per bin)


@query(
    "llm_pack_bins",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, CAST(len(str_split(text, ' ')) AS BIGINT) AS nt
      FROM documents
    ),
    b AS (
      SELECT doc_id, nt,
             CASE WHEN nt <= 64 THEN 64 WHEN nt <= 128 THEN 128
                  WHEN nt <= 256 THEN 256 WHEN nt <= 512 THEN 512
                  WHEN nt <= 1024 THEN 1024 WHEN nt <= 2048 THEN 2048
                  WHEN nt <= 4096 THEN 4096 ELSE 8192 END AS bucket
      FROM t
    ),
    r AS (
      SELECT bucket, nt,
             ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY doc_id) - 1
                 AS rk
      FROM b
    ),
    a AS (
      SELECT bucket,
             CAST(rk // GREATEST({_PACK_CTX} // bucket, 1) AS BIGINT)
                 AS bin_id,
             nt
      FROM r
    )
    SELECT CAST(bucket AS INT) AS bucket, bin_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(nt) AS BIGINT) AS sum_tokens,
           FLOOR(CAST(SUM(nt) AS DOUBLE) / {_PACK_CTX}
                 * 1000000.0 + 0.5) / 1000000.0 AS utilization
    FROM a GROUP BY bucket, bin_id
    """,
)
def llm_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-aware packing v2 (VERDICT r7 item 7): deterministic
    bucketed bin packing against llm_bucket_by_length's power-of-two
    ladder. Within each bucket, capacity = ⌊CTX / bucket⌋ same-bucket
    documents fill one _PACK_CTX = 8192-token bin (bucket-64 docs
    pack 128 per bin, bucket-8192 docs get a bin each); bin identity
    is the per-bucket doc_id-order rank divided by capacity. This is
    the practical pretraining packing scheme — same-bucket grouping
    bounds per-bin padding waste by the bucket's own pad_waste, while
    true first-fit-decreasing is inherently sequential and
    unshardable. Output per (bucket, bin): document count, real token
    mass, and utilization = tokens / CTX (the packing efficiency a
    batch scheduler reads; (1 − utilization) is paid as padding).

    Per-bucket rank is NOT a bucket-partitioned window — ≤ 8 buckets
    means each partition is ~corpus/8, a near-global single-task sort
    (the global-window ban, repo working notes). Instead the GLOBAL
    distributed_rank on (bucket, doc_id) — one range exchange +
    metadata-sized offsets — gives per-bucket rank as
    _grn − min(_grn over the bucket), with the 8-row minimum table
    broadcast back.

    100 TB: one range repartition, one ≤8-row broadcast join, one
    (bucket, bin) hash aggregate. Deterministic: rank order is
    (bucket, doc_id), no floats in the assignment."""
    from etl_geonames_spark.operators.relational import distributed_rank

    docs = load_table(spark, sf_dir, "documents")
    nt = F.size(F.split("text", " ")).cast("long")
    bucket = F.lit(8192)
    for bb in reversed(_LEN_BUCKETS):
        bucket = F.when(nt <= bb, bb).otherwise(bucket)
    b = docs.select(
        "doc_id", nt.alias("nt"), bucket.cast("int").alias("bucket")
    )
    # Per-bucket rank base = 1 + Σ sizes of earlier buckets, derived
    # from the ≤8-row bucket HISTOGRAM (window-free 8×8 self-join) —
    # NOT min(_grn) over `ranked`: a second consumer of `ranked`
    # re-executes the whole rank subplan per branch (census showed
    # 14 shuffles / 4 windows; this form is 2 windows, win_ntile's)
    sizes = b.groupBy("bucket").agg(F.count(F.lit(1)).alias("_bn"))
    prior = sizes.select(
        F.col("bucket").alias("_pb"), F.col("_bn").alias("_pn")
    )
    base = (
        sizes.join(prior, F.col("_pb") < F.col("bucket"), "left")
        .groupBy("bucket")
        .agg(
            (F.coalesce(F.sum("_pn"), F.lit(0)) + F.lit(1)).alias("_bbase")
        )
    )
    ranked = distributed_rank(b, ["bucket", "doc_id"])
    cap = F.greatest(
        F.floor(F.lit(_PACK_CTX) / F.col("bucket")), F.lit(1)
    )
    return (
        ranked.join(F.broadcast(base), "bucket")
        .select(
            "bucket",
            F.floor((F.col("_grn") - F.col("_bbase")) / cap)
            .cast("long")
            .alias("bin_id"),
            "nt",
        )
        .groupBy("bucket", "bin_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("nt").cast("long").alias("sum_tokens"),
        )
        .withColumn(
            "utilization",
            qround(
                F.col("sum_tokens").cast("double") / F.lit(_PACK_CTX), 6
            ),
        )
    )


@query(
    "llm_metric_kendall",
    oracle="""
    WITH m AS (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS x,
             CAST(len(list_distinct(
                 list_filter(str_split(text, ' '), t -> t <> '')))
                 AS BIGINT) AS y
      FROM documents WHERE doc_id < 200
    ),
    p AS (
      SELECT a.x AS xa, a.y AS ya, b.x AS xb, b.y AS yb
      FROM m a JOIN m b ON a.doc_id < b.doc_id
    ),
    s AS (
      SELECT CAST((SELECT COUNT(*) FROM m) AS BIGINT) AS n,
             CAST(COALESCE(SUM(CASE WHEN (xa < xb AND ya < yb)
                                      OR (xa > xb AND ya > yb)
                                    THEN 1 ELSE 0 END), 0) AS BIGINT)
                 AS concordant,
             CAST(COALESCE(SUM(CASE WHEN (xa < xb AND ya > yb)
                                      OR (xa > xb AND ya < yb)
                                    THEN 1 ELSE 0 END), 0) AS BIGINT)
                 AS discordant,
             CAST(COALESCE(SUM(CASE WHEN xa = xb THEN 1 ELSE 0 END), 0)
                 AS BIGINT) AS ties_x,
             CAST(COALESCE(SUM(CASE WHEN ya = yb THEN 1 ELSE 0 END), 0)
                 AS BIGINT) AS ties_y
      FROM p
    )
    SELECT n, concordant, discordant, ties_x, ties_y,
           CASE WHEN n * (n - 1) / 2 - ties_x > 0
                 AND n * (n - 1) / 2 - ties_y > 0
                THEN FLOOR(CAST(concordant - discordant AS DOUBLE)
                     / sqrt(CAST(n * (n - 1) / 2 - ties_x AS DOUBLE)
                            * CAST(n * (n - 1) / 2 - ties_y AS DOUBLE))
                     * 1000000.0 + 0.5) / 1000000.0
           END AS tau_b
    FROM s
    """,
)
def llm_metric_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's τ-b between the same two per-document metrics
    llm_metric_spearman correlates (length in chars vs vocabulary
    size) — the concordance-based association measure eval
    methodology prefers when comparing METRIC RANKINGS (e.g. does an
    automatic quality score order documents the way a gold signal
    does): τ counts pairwise order agreements directly, so it is
    robust to the outlier pairs that stretch Spearman's rank
    differences, and τ-b corrects both tie margins (Kendall 1945).

    Exact integer core: concordant / discordant / tie-pair counts
    over all slice pairs, one float division at emit (qround 6;
    n0 − n1 and n0 − n2 guards cover the all-tied degenerate corpus).

    Scale contract, honestly: the pair census is O(n²) in the slice
    (doc_id < 200 like the ROUGE/BLEU eval ops — 19.9k pairs), which
    is the textbook exact form; the corpus-scale path is a
    merge-sort inversion count (O(n log n)), worth building only if
    τ is ever needed corpus-wide — Spearman (distributed_rank-based,
    corpus-wide) is the production-scale rank correlation here."""
    m = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select(
            "doc_id",
            F.col("n_chars").cast("long").alias("x"),
            F.size(
                F.array_distinct(
                    F.filter(
                        F.split("text", " "), lambda t: t != F.lit("")
                    )
                )
            )
            .cast("long")
            .alias("y"),
        )
    )
    a = m.select(
        F.col("doc_id").alias("ida"),
        F.col("x").alias("xa"),
        F.col("y").alias("ya"),
    )
    b = m.select(
        F.col("doc_id").alias("idb"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
    )
    p = a.crossJoin(F.broadcast(b)).filter(F.col("ida") < F.col("idb"))
    xa, xb, ya, yb = (F.col(c) for c in ("xa", "xb", "ya", "yb"))
    s = p.agg(
        F.coalesce(
            F.sum(
                F.when(
                    ((xa < xb) & (ya < yb)) | ((xa > xb) & (ya > yb)), 1
                ).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("concordant"),
        F.coalesce(
            F.sum(
                F.when(
                    ((xa < xb) & (ya > yb)) | ((xa > xb) & (ya < yb)), 1
                ).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("discordant"),
        F.coalesce(F.sum(F.when(xa == xb, 1).otherwise(0)), F.lit(0))
        .cast("long")
        .alias("ties_x"),
        F.coalesce(F.sum(F.when(ya == yb, 1).otherwise(0)), F.lit(0))
        .cast("long")
        .alias("ties_y"),
    )
    n_tbl = m.agg(F.count(F.lit(1)).cast("long").alias("n"))
    out = n_tbl.crossJoin(s)
    n = F.col("n")
    n0 = n * (n - 1) / 2
    dx = (n0 - F.col("ties_x")).cast("double")
    dy = (n0 - F.col("ties_y")).cast("double")
    return out.select(
        "n",
        "concordant",
        "discordant",
        "ties_x",
        "ties_y",
        F.when(
            (n0 - F.col("ties_x") > 0) & (n0 - F.col("ties_y") > 0),
            qround(
                (F.col("concordant") - F.col("discordant")).cast("double")
                / F.sqrt(dx * dy),
                6,
            ),
        ).alias("tau_b"),
    )


_DSIR_B = 512  # hashed-bigram feature buckets

@query(
    "llm_dsir_weights",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang,
             list_filter(str_split(text, ' '), w -> w <> '') AS tk
      FROM documents
    ),
    bg AS (
      SELECT doc_id, lang,
             CAST({_poly_hash_sql("tk[i] || chr(1) || tk[i+1]")}
                  % {_DSIR_B} AS INT) AS b
      FROM t, unnest(generate_series(1, len(tk) - 1)) g(i)
      WHERE len(tk) >= 2
    ),
    db AS (
      SELECT doc_id, lang, b, CAST(COUNT(*) AS BIGINT) AS nb
      FROM bg GROUP BY 1, 2, 3
    ),
    bs AS (
      SELECT b, CAST(SUM(nb) AS BIGINT) AS cr,
             CAST(COALESCE(SUM(CASE WHEN lang = 'en' THEN nb END), 0)
                  AS BIGINT) AS ct
      FROM db GROUP BY b
    ),
    tot AS (
      SELECT CAST(SUM(cr) AS BIGINT) AS rr,
             CAST(SUM(ct) AS BIGINT) AS tt
      FROM bs
    ),
    lam AS (
      SELECT bs.b,
             ln(CAST(bs.ct + 1 AS DOUBLE) / (tot.tt + {_DSIR_B}))
             - ln(CAST(bs.cr + 1 AS DOUBLE) / (tot.rr + {_DSIR_B})) AS lam
      FROM bs, tot
    ),
    w AS (
      SELECT db.doc_id, db.lang, SUM(db.nb * lam.lam) AS w
      FROM db JOIN lam USING (b) GROUP BY 1, 2
    ),
    base AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM t GROUP BY lang
    )
    SELECT base.lang, base.n_docs,
           CAST(COUNT(w.doc_id) AS BIGINT) AS n_scored,
           CASE WHEN COUNT(w.doc_id) > 0
                THEN {sql_qround('SUM(w.w) / COUNT(w.doc_id)', 6)}
           END AS avg_logweight,
           CAST(COALESCE(SUM(CASE WHEN {sql_qround('w.w', 6)} > 0
                                  THEN 1 ELSE 0 END), 0) AS BIGINT)
               AS n_positive
    FROM base LEFT JOIN w ON w.lang = base.lang
    GROUP BY base.lang, base.n_docs
    """,
)
def llm_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): hashed-bigram
    log-likelihood-ratio weights log p_target(doc)/p_raw(doc) under
    bag-of-hashed-features unigram models with add-1 smoothing —
    THE published cheap method for tilting a raw crawl toward a
    target distribution before pretraining. Target here is the
    lang='en' slice (the fixture's stand-in for a curated corpus);
    features are bigrams hashed into {_DSIR_B} buckets via the
    shared cross-engine :func:`poly_hash` fold (the
    llm_feature_hashing trick — no vocabulary pass, bounded state at
    ANY corpus size, which is DSIR's entire point).

    Emitted per language: doc counts, scored-doc counts (docs with
    >= 1 bigram), the mean log-weight, and how many docs score
    positive (lean target-ward) — the table a mixing/resampling
    stage consumes (llm_mix_weights / llm_apply_mix_weights are the
    downstream consumers of exactly such a signal; this op produces
    the weights those ops assume given).

    Parity class: per-doc w = Σ_b n_b·λ_b and the per-lang mean are
    order-dependent float sums (λ is ln of exact-integer ratios —
    deterministic; the SUMS are the accepted chi-square-precedent
    class, one qround(6) boundary per lang row plus one per doc on
    the sign count — the documented llm_quality_features class).
    The n >= 2 bigram guard is the standard ANSI sequence trap
    guard; single-token/empty docs count in n_docs but not n_scored.

    100 TB shape: explode → map-side hash → ONE (doc, bucket)
    combined aggregate (shuffle rows bounded by docs x {_DSIR_B});
    bucket stats re-aggregate THAT table ({_DSIR_B}-row outputs,
    broadcast back); one doc-keyed weight aggregate; one k-row lang
    rollup. The (doc, bucket) table is localCheckpointed — it feeds
    the raw counts, the target counts, and the weight join."""
    t = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.filter(F.split("text", " "), lambda w: w != F.lit("")).alias(
            "tk"
        ),
    )
    n = F.size("tk")
    bg = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat(
                F.element_at("tk", i),
                F.lit("\x01"),
                F.element_at("tk", i + 1),
            ),
        ),
    ).otherwise(F.expr("cast(array() as array<string>)"))
    db = (
        spread(t, "doc_id")
        .select("doc_id", "lang", F.explode(bg).alias("g"))
        .select(
            "doc_id",
            "lang",
            (poly_hash(F.col("g")) % _DSIR_B).cast("int").alias("b"),
        )
        .groupBy("doc_id", "lang", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("nb"))
        .transform(pin)
    )
    # ONE conditional aggregate produces raw AND target bucket counts
    # (a separate target groupBy + left join re-shuffled db and joined
    # twice for the same information — round-9 review trim)
    bs = (
        db.groupBy("b")
        .agg(
            F.sum("nb").cast("long").alias("cr"),
            F.coalesce(
                F.sum(F.when(F.col("lang") == "en", F.col("nb"))), F.lit(0)
            )
            .cast("long")
            .alias("ct"),
        )
        # 512-row table with two consumers (tot and lam): without the
        # checkpoint the bucket aggregate over db executes twice
        .transform(pin)
    )
    tot = bs.agg(
        F.sum("cr").cast("long").alias("rr"),
        F.sum("ct").cast("long").alias("tt"),
    )
    lam = bs.crossJoin(F.broadcast(tot)).select(
        "b",
        (
            F.log((F.col("ct") + 1).cast("double") / (F.col("tt") + _DSIR_B))
            - F.log(
                (F.col("cr") + 1).cast("double") / (F.col("rr") + _DSIR_B)
            )
        ).alias("lam"),
    )
    w = (
        db.join(F.broadcast(lam), "b")
        .groupBy("doc_id", "lang")
        .agg(F.sum(F.col("nb") * F.col("lam")).alias("w"))
    )
    base = t.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    return (
        base.join(w, "lang", "left")
        .groupBy("lang", "n_docs")
        .agg(
            F.count("doc_id").cast("long").alias("n_scored"),
            F.when(
                F.count("doc_id") > 0,
                qround(F.sum("w") / F.count("doc_id"), 6),
            ).alias("avg_logweight"),
            F.coalesce(
                F.sum(F.when(qround(F.col("w"), 6) > 0, 1).otherwise(0)),
                F.lit(0),
            )
            .cast("long")
            .alias("n_positive"),
        )
    )


_FIM_P = 1_000_003


@query(
    "llm_fim_transform",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               list_filter(str_split(text, ' '), w -> w <> '') AS tk
        FROM documents
    ),
    n_t AS (SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS n FROM t),
    sp AS (
        SELECT doc_id, tk, n,
               (doc_id * 2654435761 + 17) % {_FIM_P} % (n + 1) AS p1
        FROM n_t
    ),
    sp2 AS (
        SELECT doc_id, tk, n, p1,
               p1 + (doc_id * 48271 + 99991) % {_FIM_P} % (n - p1 + 1)
                   AS p2
        FROM sp
    ),
    parts AS (
        SELECT doc_id, p1, p2,
               COALESCE(array_to_string(
                   list_slice(tk, 1, CAST(p1 AS INT)), ' '), '') AS pre,
               COALESCE(array_to_string(
                   list_slice(tk, CAST(p1 + 1 AS INT),
                              CAST(p2 AS INT)), ' '), '') AS mid,
               COALESCE(array_to_string(
                   list_slice(tk, CAST(p2 + 1 AS INT),
                              CAST(n AS INT)), ' '), '') AS suf
        FROM sp2
    )
    SELECT doc_id, p1, p2,
           '<PRE> ' || pre || ' <SUF> ' || suf || ' <MID> ' || mid
               AS psm,
           '<PRE> <SUF> ' || suf || ' <MID> ' || pre || ' ' || mid
               AS spm
    FROM parts
    """,
)
def llm_fim_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle transform (Bavarian et al. 2022): split
    each document at two deterministic points into (prefix, middle,
    suffix) and render BOTH canonical orders — PSM
    "<PRE> p <SUF> s <MID> m" and SPM "<PRE> <SUF> s <MID> p m" —
    the data-side half of infilling-capable pretraining (the paper's
    core finding is that this transform is FREE: it costs no
    left-to-right capability, so pipelines apply it to ~50% of
    documents; the rate is a caller knob, the transform is the op).
    Sibling of llm_span_corruption (T5 denoising pairs) and
    llm_mask_tokens (BERT masking) — the three standard objective
    materializations.

    RNG-free split points (the split_train_test discipline): two
    independent multiplicative hashes of doc_id reduced mod 10⁶+3
    BEFORE the range mods (the llm_span_corruption degeneracy
    lesson), giving 0 ≤ p1 ≤ p2 ≤ n with every arithmetic step exact
    int64. Empty/one-token docs degrade to empty parts, never an
    index throw; empty slices serialize as '' on BOTH engines
    (DuckDB's array_to_string([]) is NULL — COALESCE'd, the
    fn_array_setops rule).

    Map-only: one pass of array/string expressions over the scan,
    zero shuffles, zero Python — scan-speed pair generation, the
    llm_span_corruption bill."""
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    t = docs.select(
        "doc_id",
        F.expr("filter(split(text, ' '), w -> w != '')").alias("tk"),
    )
    n = F.size("tk").cast("long")
    p1 = (F.col("doc_id") * F.lit(2654435761) + 17) % _FIM_P % (
        F.col("n") + 1
    )
    nt = t.select("doc_id", "tk", n.alias("n"))
    sp = nt.select("doc_id", "tk", "n", p1.alias("p1"))
    p2 = F.col("p1") + (F.col("doc_id") * F.lit(48271) + 99991) % _FIM_P % (
        F.col("n") - F.col("p1") + 1
    )
    sp2 = sp.select("doc_id", "tk", "n", "p1", p2.alias("p2"))
    pre = F.array_join(
        F.slice(F.col("tk"), 1, F.col("p1").cast("int")), " "
    )
    mid = F.array_join(
        F.expr("slice(tk, cast(p1 + 1 as int), cast(p2 - p1 as int))"),
        " ",
    )
    suf = F.array_join(
        F.expr("slice(tk, cast(p2 + 1 as int), cast(n - p2 as int))"),
        " ",
    )
    parts = sp2.select(
        "doc_id",
        "p1",
        "p2",
        pre.alias("pre"),
        mid.alias("mid"),
        suf.alias("suf"),
    )
    return parts.select(
        "doc_id",
        "p1",
        "p2",
        F.concat(
            F.lit("<PRE> "),
            F.col("pre"),
            F.lit(" <SUF> "),
            F.col("suf"),
            F.lit(" <MID> "),
            F.col("mid"),
        ).alias("psm"),
        F.concat(
            F.lit("<PRE> <SUF> "),
            F.col("suf"),
            F.lit(" <MID> "),
            F.col("pre"),
            F.lit(" "),
            F.col("mid"),
        ).alias("spm"),
    )


@query(
    "llm_char_entropy_gate",
    oracle="""
    WITH ch AS (
        SELECT doc_id, length(text) AS ln_,
               list_sort(list_distinct(str_split(text, ''))) AS dch,
               str_split(text, '') AS cs
        FROM documents
    ),
    ent AS (
        SELECT doc_id, CAST(ln_ AS BIGINT) AS n_chars,
               CAST(len(dch) AS BIGINT) AS n_distinct,
               CASE WHEN ln_ > 0 THEN
                   LN(CAST(ln_ AS DOUBLE))
                   - list_reduce(list_prepend(CAST(0 AS DOUBLE),
                       list_transform(dch, c ->
                           CAST(len(list_filter(cs, x -> x = c))
                                AS DOUBLE)
                           * LN(CAST(len(list_filter(cs, x -> x = c))
                                     AS DOUBLE)))),
                       (acc, y) -> acc + y) / ln_
               END AS h
        FROM ch
    )
    SELECT doc_id, n_chars, n_distinct,
           FLOOR(h * 1000000.0 + 0.5) / 1000000.0 AS char_entropy,
           COALESCE(FLOOR(h * 1000000.0 + 0.5) / 1000000.0 < 1.5,
                    FALSE) AS flag_low,
           COALESCE(FLOOR(h * 1000000.0 + 0.5) / 1000000.0 > 4.5,
                    FALSE) AS flag_high
    FROM ent
    """,
)
def llm_char_entropy_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-entropy gibberish gate: per-document Shannon entropy
    of the CHARACTER distribution in nats, with low/high flags —
    repeated-character spam ("aaaa…") collapses entropy toward 0 and
    base64/hex/random-token noise pushes it past natural-language
    range (~2-4 nats for English prose), so the two flags bracket the
    classic cheap gibberish screens (the char-level complement of
    llm_repetition_ratio's token-level and llm_gopher_quality's
    word-shape checks; CCNet/RefinedWeb-class pipelines run exactly
    this family before any model scoring).

    Determinism: H = ln L − (Σ c·ln c)/L keeps every ln argument an
    exact integer (character counts — the all-integer-args form of
    entropy; no p = c/L ratios enter the logs), the distinct-char
    fold runs in SORTED order on both engines (UTF-8 byte order —
    array_sort/list_sort agree; unordered list_distinct output is
    never folded directly), and the flags compare the qround(6)'d
    entropy against the thresholds on BOTH engines (the
    float-threshold rule). Empty documents NULL all three derived
    columns.

    Map-only: one pass of array expressions over the scan (O(d·L)
    per doc for d distinct chars), zero shuffles, zero Python —
    scan-speed gating at any corpus size."""
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    cs = F.split(F.col("text"), "")
    dch = F.array_sort(F.array_distinct(cs))
    ln_ = F.length("text")
    cnt = lambda c: F.size(F.filter(cs, lambda x: x == c))
    h = F.when(
        ln_ > 0,
        F.log(ln_.cast("double"))
        - F.aggregate(
            F.transform(
                dch,
                lambda c: cnt(c).cast("double")
                * F.log(cnt(c).cast("double")),
            ),
            F.lit(0.0),
            lambda acc, y: acc + y,
        )
        / ln_,
    )
    base = docs.select(
        "doc_id",
        ln_.cast("long").alias("n_chars"),
        F.size(dch).cast("long").alias("n_distinct"),
        qround(h, 6).alias("char_entropy"),
    )
    return base.select(
        "doc_id",
        "n_chars",
        "n_distinct",
        "char_entropy",
        # flags are NON-NULL booleans (empty doc -> false, its own
        # n_chars = 0 signal): a nullable boolean hits a pandas dtype
        # seam in the differential comparator (None vs NaN)
        F.coalesce(F.col("char_entropy") < 1.5, F.lit(False)).alias(
            "flag_low"
        ),
        F.coalesce(F.col("char_entropy") > 4.5, F.lit(False)).alias(
            "flag_high"
        ),
    )


@query(
    "llm_df_prune",
    oracle="""
    WITH w AS (
        SELECT doc_id, unnest(str_split(text, ' ')) AS word
        FROM documents
    ),
    wne AS (SELECT doc_id, word FROM w WHERE word <> ''),
    nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n
           FROM wne),
    dfreq AS (
        SELECT word, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        FROM wne GROUP BY word
    ),
    tagged AS (
        SELECT t.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM(CASE WHEN 2 * d.df > nd.n OR d.df = 1
                        THEN 0 ELSE 1 END) AS BIGINT) AS n_kept
        FROM wne t JOIN dfreq d USING (word), nd
        GROUP BY t.doc_id
    )
    SELECT doc_id, n_tokens, n_kept,
           FLOOR(CAST(n_kept AS DOUBLE) / n_tokens
                 * 1000000.0 + 0.5) / 1000000.0 AS kept_frac
    FROM tagged
    """,
)
def llm_df_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-frequency vocabulary pruning census: drop tokens that
    are corpus-level STOPWORDS (df > N/2 — appear in more than half
    the documents) or HAPAX (df = 1 — appear in exactly one), and
    report per-document retention — the standard index/embedding
    vocabulary diet (Luhn's classic mid-frequency band), and the
    pre-filter that shrinks boilerplate n-gram tables and inverted
    indexes before the expensive ops run. Per-doc kept_frac near 0
    flags documents made ENTIRELY of glue words or entirely of
    singletons — both quality signals the length-based gates miss.

    Both prune predicates are ALL-INTEGER (2·df > N, df = 1) on
    exact distinct-doc counts — no float ever crosses engines except
    the emitted retention ratio (one correctly-rounded division,
    qround(6); n_tokens ≥ 1 for every emitted row since docs with no
    non-empty token produce no join rows).

    100 TB shape: one distinct aggregate for df (vocabulary-sized,
    map-side combined), the corpus total as a 1-row broadcast, one
    hash join token-stream × vocabulary (the llm_inverted_index
    co-location; vocabulary hash-partitions the wide side), one
    doc-keyed conditional sum. Empty-text documents simply don't
    appear — their absence IS the signal, like the inverted index."""
    docs = load_table(spark, sf_dir, "documents")
    wne = (
        docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("word")
        )
        .filter(F.col("word") != "")
        # feeds the doc total, the df aggregate, and the tagging join
        .transform(pin)
    )
    nd = wne.agg(
        F.countDistinct("doc_id").cast("long").alias("n")
    )
    dfreq = wne.groupBy("word").agg(
        F.countDistinct("doc_id").cast("long").alias("df")
    )
    drop = (2 * F.col("df") > F.col("n")) | (F.col("df") == 1)
    tagged = (
        wne.join(dfreq, "word")
        .crossJoin(F.broadcast(nd))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(F.when(drop, 0).otherwise(1))
            .cast("long")
            .alias("n_kept"),
        )
    )
    return tagged.select(
        "doc_id",
        "n_tokens",
        "n_kept",
        qround(
            F.col("n_kept").cast("double") / F.col("n_tokens"), 6
        ).alias("kept_frac"),
    )


# TextTiling block size (tokens per block).
_TT_W = 10


@query(
    "llm_texttiling_boundaries",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               list_filter(str_split(text, ' '), _tw -> _tw <> '') AS tk
        FROM documents
    ),
    bl AS (
        SELECT doc_id, len(tk) AS n_tokens,
               len(tk) // {_TT_W} AS nb,
               list_transform(generate_series(0, len(tk) // {_TT_W} - 1),
                   _tb -> list_distinct(list_transform(
                       generate_series(1, {_TT_W}),
                       _tk -> tk[CAST(_tb * {_TT_W} + _tk AS INT)])))
                   AS blocks
        FROM t WHERE len(tk) >= 2 * {_TT_W}
    ),
    sm AS (
        SELECT doc_id, n_tokens, nb,
               list_transform(generate_series(1, CAST(nb - 1 AS INT)),
                   _tg -> CAST(len(list_filter(blocks[_tg],
                       _tx -> list_contains(blocks[_tg + 1], _tx)))
                       AS BIGINT)) AS sims
        FROM bl
    )
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(nb AS BIGINT) AS n_blocks,
           CAST(CASE WHEN nb >= 4 THEN len(list_filter(
                   generate_series(2, CAST(nb - 2 AS INT)),
                   _tq -> sims[_tq] < sims[_tq - 1]
                      AND sims[_tq] < sims[_tq + 1]))
                ELSE 0 END AS BIGINT) AS n_boundaries,
           COALESCE(array_to_string(CASE WHEN nb >= 4 THEN
                   list_filter(generate_series(2, CAST(nb - 2 AS INT)),
                       _tz -> sims[_tz] < sims[_tz - 1]
                          AND sims[_tz] < sims[_tz + 1])
                ELSE [] END, ','), '') AS boundary_gaps
    FROM sm
    """,
)
def llm_texttiling_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextTiling topic-boundary detection (Hearst 1997) — the
    content-AWARE complement of llm_chunk_documents' fixed-size
    chunking (the difference between RAG chunks that cut mid-topic
    and chunks that follow the discourse): tile each document into
    W=10-token blocks, score each gap by the DISTINCT-token overlap
    of its adjacent blocks, and place a boundary at every strict
    local MINIMUM of the gap-similarity series (lexical cohesion dips
    exactly where the topic shifts — Hearst's depth-score valley,
    simplified to the strict-valley rule so the decision stays
    integer).

    ALL-INTEGER decisions: gap similarity is an exact intersection
    COUNT of distinct token sets (no cosine, no normalization —
    Hearst's own token-overlap variant), and the valley rule compares
    raw integer counts, so boundary placement is engine-exact with no
    float anywhere. Interior-gap guard (nb ≥ 4) uses the CASE +
    typed-empty-array pattern (Spark's sequence(2, 1) DESCENDS — the
    _shingles rule); empty boundary lists serialize as '' on both
    engines (the array_to_string NULL gotcha).

    100 TB shape: pure map — one scan, per-doc bounded array
    arithmetic (blocks ≤ len/W, gaps ≤ blocks), zero joins, zero
    shuffles beyond the scan; the block/sim arrays are in-cell. The
    full Hearst pipeline (depth scores with smoothing, cutoff at
    mean − σ/2) rides the same sims array — one more in-cell
    transform when needed."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(
        F.split("text", " "), lambda w: w != F.lit("")
    )
    t = docs.select("doc_id", toks.alias("tk")).filter(
        F.size("tk") >= 2 * _TT_W
    )
    nb = (F.size("tk") / F.lit(_TT_W)).cast("int")
    blocks = F.transform(
        F.sequence(F.lit(0), nb - 1),
        lambda b: F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.lit(_TT_W)),
                lambda k: F.element_at(
                    F.col("tk"), (b * _TT_W + k).cast("int")
                ),
            )
        ),
    )
    bl = t.select(
        "doc_id",
        F.size("tk").cast("long").alias("n_tokens"),
        nb.alias("nb"),
        blocks.alias("blocks"),
    )
    sims = F.transform(
        F.sequence(F.lit(1), F.col("nb") - 1),
        lambda g: F.size(
            F.array_intersect(
                F.element_at(F.col("blocks"), g.cast("int")),
                F.element_at(F.col("blocks"), (g + 1).cast("int")),
            )
        ).cast("long"),
    )
    sm = bl.select("doc_id", "n_tokens", "nb", sims.alias("sims"))
    valleys = F.when(
        F.col("nb") >= 4,
        F.filter(
            F.sequence(F.lit(2), (F.col("nb") - 2).cast("int")),
            lambda g: (
                F.element_at(F.col("sims"), g.cast("int"))
                < F.element_at(F.col("sims"), (g - 1).cast("int"))
            )
            & (
                F.element_at(F.col("sims"), g.cast("int"))
                < F.element_at(F.col("sims"), (g + 1).cast("int"))
            ),
        ),
    ).otherwise(F.array().cast("array<int>"))
    return sm.select(
        "doc_id",
        "n_tokens",
        F.col("nb").cast("long").alias("n_blocks"),
        F.size(valleys).cast("long").alias("n_boundaries"),
        F.array_join(valleys, ",").alias("boundary_gaps"),
    )

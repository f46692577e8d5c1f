"""Text analysis operators: language ID, quality scoring, token
counting, document fingerprinting.

All hot-path logic is built-in column expressions (split /
array_intersect / aggregate / md5 / xxhash64) — no Python in the data
path, so every operator here is a single codegen'd scan + optional
aggregate at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from real_time_data_anomaly_detection_spark.io import load_table
from real_time_data_anomaly_detection_spark.operators.registry import query
from real_time_data_anomaly_detection_spark.plans.inspect import materialize

#: Tiny high-frequency stopword profiles — the classic closed-class-word
#: heuristic for language ID. (Real corpora would use char n-gram
#: profiles; the mechanism below — per-language overlap scoring over a
#: broadcast profile — is the same either way.)
STOPWORD_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "it", "for", "was"),
    "de": ("der", "die", "und", "das", "ist", "nicht", "ein", "mit", "auf", "den"),
    "fr": ("le", "la", "et", "les", "des", "est", "un", "une", "dans", "que"),
    "es": ("el", "la", "de", "que", "los", "las", "es", "un", "una", "por"),
    "zh": ("的", "是", "了", "在", "我", "有", "和", "就", "不", "人"),
}


def lang_id(
    df: DataFrame,
    text_col: str = "text",
    profiles: dict[str, tuple[str, ...]] | None = None,
) -> DataFrame:
    """Add ``lang_pred`` + ``lang_score``: argmax over per-language
    stopword-overlap rates.

    Profiles are inlined as literal arrays (broadcast by Catalyst's
    constant handling); scoring is array_intersect over the token set —
    one pass, no shuffle, no UDF. Ties/no-overlap → 'und'.
    """
    prof = profiles or STOPWORD_PROFILES
    toks = F.array_distinct(F.split(F.lower(F.col(text_col)), r"\s+"))
    scores = [
        (
            lang,
            F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in words])))
            / F.lit(len(words)),
        )
        for lang, words in prof.items()
    ]
    best = F.greatest(*[s for _, s in scores])
    pred = F.lit("und")
    for lang, s in scores:  # first-match argmax, deterministic order
        pred = F.when((s == best) & (best > 0) & (pred == "und"), F.lit(lang)).otherwise(
            pred
        )
    # Rebuild as a single CASE chain (the loop above nests `when`s in a
    # way that keeps earlier matches sticky via the 'und' sentinel).
    return df.withColumn("lang_pred", pred).withColumn(
        "lang_score", F.round(best.cast("double"), 4)
    )


def rolling_fingerprint(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", base: int = 1_000_003
) -> DataFrame:
    """Order-sensitive polynomial rolling hash over tokens (Rabin-Karp
    style): fp = Σ h(tok_i)·B^(n-i) in 64-bit modular arithmetic.

    Unlike a token-set hash, permutations of the same tokens fingerprint
    differently. Built on F.aggregate — JVM-side. Arithmetic is kept in
    [0, 2^31) with pmod at every step: ANSI mode (Spark 4 default)
    raises on long overflow, so wrap-around tricks are off the table."""
    mod = 2_147_483_647  # 2^31 - 1 (Mersenne prime)
    toks = F.split(F.col(text_col), " ")
    fp = F.aggregate(
        toks,
        F.lit(0).cast("bigint"),
        lambda acc, t: F.pmod(acc * base + F.pmod(F.xxhash64(t), F.lit(mod)), F.lit(mod)),
    )
    return df.select(id_col, fp.alias("fingerprint"))


@query(
    "q_text_quality",
    oracle="""
        SELECT doc_id,
               len(string_split(text, ' '))                        AS n_tokens,
               len(list_distinct(string_split(text, ' ')))         AS n_distinct,
               round(len(list_distinct(string_split(text, ' ')))::DOUBLE
                     / len(string_split(text, ' ')), 4)            AS ttr,
               round((length(text) - len(string_split(text, ' ')) + 1)::DOUBLE
                     / len(string_split(text, ' ')), 4)            AS avg_tok_len
        FROM documents
    """,
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-scoring features per document: token count, vocabulary
    size, type-token ratio, mean token length. (Punctuation/stopword
    ratios are trivial additions on real corpora; this fixture's text
    is bare tokens.)"""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_tokens = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        n_distinct.alias("n_distinct"),
        F.round(n_distinct.cast("double") / n_tokens, 4).alias("ttr"),
        F.round(
            (F.length("text") - n_tokens + 1).cast("double") / n_tokens, 4
        ).alias("avg_tok_len"),
    )


@query(
    "q_fingerprint",
    oracle="SELECT doc_id, md5(text) AS fp FROM documents",
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint per document (md5; both engines implement
    RFC 1321, so digests match bit-for-bit)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", F.md5("text").alias("fp"))


def _lang_id_oracle() -> str:
    """DuckDB twin of lang_id, generated from STOPWORD_PROFILES so the
    two can never drift: same intersection rates, same first-match
    argmax order (dict order), same 'und' fallback."""
    langs = list(STOPWORD_PROFILES)
    scores = ",\n               ".join(
        f"len(list_intersect(toks, [{', '.join(repr(w) for w in ws)}]))"
        f" / {len(ws)}.0 AS s_{lang}"
        for lang, ws in STOPWORD_PROFILES.items()
    )
    best = "greatest(" + ", ".join(f"s_{lg}" for lg in langs) + ")"
    case = (
        f"CASE WHEN {best} = 0 THEN 'und' "
        + " ".join(f"WHEN s_{lg} = {best} THEN '{lg}'" for lg in langs[:-1])
        + f" ELSE '{langs[-1]}' END"
    )
    return f"""
        WITH toked AS (
            SELECT doc_id,
                   list_distinct(string_split_regex(lower(text), '\\s+')) AS toks
            FROM documents
        ),
        scored AS (
            SELECT doc_id,
               {scores}
            FROM toked
        )
        SELECT doc_id, {case} AS lang_pred,
               round({best}, 4) AS lang_score
        FROM scored
    """


@query("q_lang_id", oracle=_lang_id_oracle())
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID over documents: the oracle replays the same
    stopword-overlap argmax in DuckDB (generated from the same profile
    dict). The fixture's lang labels are content-random, so ACCURACY is
    asserted separately on a real multilingual fixture in
    tests/test_textops.py; the oracle checks the heuristic itself."""
    d = load_table(spark, sf_dir, "documents")
    return lang_id(d).select("doc_id", "lang_pred", "lang_score")


@query("q_rolling_fingerprint")  # xxhash64-based → no DuckDB twin, rows-only
def q_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling-hash fingerprints (dedup key for exact
    reordering-insensitive matching is q_fingerprint; this catches
    token-order edits)."""
    d = load_table(spark, sf_dir, "documents")
    return rolling_fingerprint(d)


@query(
    "q_corpus_clean",
    oracle="""
        WITH stats AS (
          SELECT doc_id, text, lang, source,
                 len(string_split(text, ' ')) AS n_tokens,
                 round(len(list_distinct(string_split(text, ' ')))::DOUBLE
                       / len(string_split(text, ' ')), 4) AS ttr
          FROM documents
        ),
        quality AS (
          SELECT * FROM stats WHERE n_tokens >= 10 AND ttr >= 0.3
        ),
        deduped AS (
          SELECT *, min(doc_id) OVER (PARTITION BY text) AS keeper
          FROM quality
        )
        SELECT doc_id, lang, source, n_tokens, ttr
        FROM deduped WHERE doc_id = keeper
    """,
)
def q_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed training-data cleaning pipeline in ONE declarative
    plan: quality gate (length + type-token ratio) → exact content
    dedup (min-id survivor per identical text) → per-doc stats out.

    This is the shape a 100 TB curation job takes: the quality filter
    prunes BEFORE the dedup shuffle; the dedup partitions by the
    sha2-256 of the text (the text itself is projected away first, so
    the exchange moves 32-byte digests + stats, never documents); and
    Catalyst pipelines all three stages — no materialization between
    'steps'. The oracle partitions by raw text — equivalent up to
    sha collisions."""
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_tokens = F.size(toks)
    ttr = F.round(
        F.size(F.array_distinct(toks)).cast("double") / F.size(toks), 4
    )
    quality = d.select(
        "doc_id", "lang", "source",
        n_tokens.alias("n_tokens"), ttr.alias("ttr"),
        F.sha2(F.col("text"), 256).alias("_fp"),
    ).filter((F.col("n_tokens") >= 10) & (F.col("ttr") >= 0.3))
    keeper = F.min("doc_id").over(W.partitionBy("_fp"))
    return (
        quality.withColumn("keeper", keeper)
        .filter(F.col("doc_id") == F.col("keeper"))
        .select("doc_id", "lang", "source", "n_tokens", "ttr")
    )


@query(
    "q_repetition_ratio",
    oracle="""
        WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
        bg AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS b
               FROM toks, UNNEST(generate_series(1, len(t)-1)) AS u(i)),
        agg AS (SELECT doc_id, count(*) AS n_bigrams,
                       count(DISTINCT b) AS n_distinct
                FROM bg GROUP BY 1)
        SELECT doc_id, n_bigrams, n_bigrams - n_distinct AS n_dup,
               round((n_bigrams - n_distinct)::DOUBLE / n_bigrams, 4) AS rep_ratio
        FROM agg
    """,
)
def q_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition: duplicate-bigram fraction per doc —
    the classic repetition quality gate for LLM training corpora
    (heavily repetitive docs are low-quality boilerplate). Entirely
    row-wise column math (bigram array, size vs distinct size): a
    single codegen'd scan, no explode, no shuffle — the 100 TB cost is
    exactly one pass over the text column."""
    d = load_table(spark, sf_dir, "documents")
    t = F.split(F.col("text"), " ")
    idx = F.sequence(F.lit(0), F.size(t) - 2)
    bigram = lambda i: F.concat_ws(  # noqa: E731
        " ", F.element_at(t, i + 1), F.element_at(t, i + 2)
    )
    bg = F.transform(idx, lambda i: bigram(i))
    n_bigrams = F.size(bg)
    n_distinct = F.size(F.array_distinct(bg))
    return (
        d.filter(F.size(t) >= 2)
        .select(
            "doc_id",
            n_bigrams.alias("n_bigrams"),
            (n_bigrams - n_distinct).alias("n_dup"),
            F.round(
                (n_bigrams - n_distinct).cast("double") / n_bigrams, 4
            ).alias("rep_ratio"),
        )
    )


@query(
    "q_tfidf",
    oracle="""
        WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS term
                     FROM documents),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        n AS (SELECT count(*) AS n_docs FROM documents),
        scored AS (
            SELECT tf.doc_id, tf.term,
                   round(tf * ln(n_docs::DOUBLE / df), 4) AS tfidf,
                   row_number() OVER (
                       PARTITION BY tf.doc_id
                       ORDER BY tf * ln(n_docs::DOUBLE / df) DESC, tf.term
                   ) AS rk
            FROM tf JOIN df USING (term) CROSS JOIN n
        )
        SELECT doc_id, term, tfidf, rk FROM scored WHERE rk <= 3
    """,
)
def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 tf-idf terms per document — the standard keyword/topic
    signal a corpus pipeline derives before clustering or routing.

    Two partial-aggregated passes (term frequencies, then document
    frequencies — df needs no countDistinct since tf is already one
    row per (doc, term)), a shuffle join on term, a ONE-ROW corpus
    count broadcast (keyless scalar — the BNLJ is the right plan), and
    a per-doc top-3 that plans WindowGroupLimit, so each partition
    keeps 3 rows per doc before the rank shuffle. Ties break on term
    for cross-engine determinism."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # tf feeds the df aggregation AND the score join (3 corpus scans
    # unmaterialized; measured 0.885 -> 0.770 s interleaved)
    tf = materialize(tf, gate_on=d)
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    score = F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df"))
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc(score), F.asc("term"))
    return (
        tf.join(df, "term")
        .join(F.broadcast(n))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "term", F.round(score, 4).alias("tfidf"), "rk")
    )


#: PII patterns shared by the Spark operator and the generated DuckDB
#: oracle (one source of truth — the two regex engines, Java util.regex
#: and RE2, agree on this conservative subset: char classes, bounded
#: repetition, non-capturing groups, \b). Order matters: emails are
#: redacted before IPs so a dotted hostname inside an address is
#: consumed by the email rule first.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    ("phone", r"\+\d{7,15}\b", "<PHONE>"),
)


def scrub_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact PII spans (emails / IPv4 / intl phone numbers) and count
    them: adds ``clean_text`` plus one ``n_<kind>`` column per pattern.

    The scrub is a chain of regexp_replace calls and the counts are
    regexp_extract_all sizes — all JVM expressions inside one
    codegen'd projection, so at 100 TB this is exactly one pass over
    the text with zero shuffle and zero Python. The C4/Dolma-style
    curation step before publishing a corpus."""
    clean = F.col(text_col)
    counts = []
    for kind, pat, repl in PII_PATTERNS:
        counts.append(
            F.size(F.regexp_extract_all(F.col(text_col), F.lit(pat), F.lit(0))).alias(
                f"n_{kind}"
            )
        )
        clean = F.regexp_replace(clean, pat, repl)
    return df.select("*", clean.alias("clean_text"), *counts)


def _pii_oracle() -> str:
    """DuckDB twin generated from PII_PATTERNS: same synthetic
    PII-bearing text (the fixture corpus is bare tokens, so both sides
    append deterministic doc_id-derived PII first), same replace chain,
    same match counts."""
    derived = (
        "text"
        " || CASE WHEN doc_id % 3 = 0 THEN ' user' || CAST(doc_id AS VARCHAR)"
        " || '@example.com' ELSE '' END"
        " || CASE WHEN doc_id % 5 = 0 THEN ' from 192.168.'"
        " || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST(doc_id % 100 AS VARCHAR)"
        " ELSE '' END"
        " || CASE WHEN doc_id % 7 = 0 THEN ' call +1555'"
        " || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END"
    )
    clean = "t"
    counts = []
    for kind, pat, repl in PII_PATTERNS:
        sql_pat = pat.replace("'", "''")
        counts.append(f"len(regexp_extract_all(t, '{sql_pat}')) AS n_{kind}")
        clean = f"regexp_replace({clean}, '{sql_pat}', '{repl}', 'g')"
    return f"""
        WITH pii AS (SELECT doc_id, {derived} AS t FROM documents)
        SELECT doc_id, {clean} AS clean_text,
               {', '.join(counts)}
        FROM pii
    """


@query("q_pii_scrub", oracle=_pii_oracle())
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing over documents. The fixture text is bare tokens,
    so the query first derives a deterministic PII-bearing variant
    (doc_id-keyed emails / IPs / phone numbers appended to ~1/3, 1/5,
    1/7 of docs — both engines derive the identical string), then
    applies the shared redaction chain. One codegen'd projection; the
    oracle replays the same patterns via RE2."""
    d = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    derived = F.concat(
        F.col("text"),
        F.when(
            did % 3 == 0, F.concat(F.lit(" user"), s(did), F.lit("@example.com"))
        ).otherwise(F.lit("")),
        F.when(
            did % 5 == 0,
            F.concat(
                F.lit(" from 192.168."), s(did % 256), F.lit("."), s(did % 100)
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 7 == 0,
            F.concat(F.lit(" call +1555"), F.lpad(s(did % 10000), 4, "0")),
        ).otherwise(F.lit("")),
    )
    return scrub_pii(d.select("doc_id", derived.alias("text"))).select(
        "doc_id", "clean_text", "n_email", "n_ip", "n_phone"
    )


#: Gopher-rules constants (Rae et al. 2021, "Scaling Language Models:
#: Methods, Analysis & Insights from Training Gopher", Table A1) —
#: shared by the Spark operator and the generated oracle.
GOPHER_MIN_WORDS, GOPHER_MAX_WORDS = 50, 100_000
GOPHER_MIN_MEAN_LEN, GOPHER_MAX_MEAN_LEN = 3.0, 10.0
GOPHER_MIN_ALPHA_FRAC = 0.80
GOPHER_STOPWORDS: tuple[str, ...] = ("the", "be", "to", "of", "and", "that", "have", "with")
GOPHER_MIN_STOPWORDS = 2


def gopher_rules(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style document quality rules: word-count bounds, mean
    word length bounds, fraction of words containing an alphabetic
    character, and required-stopword count. Adds the four metrics, one
    0/1 flag per rule, and ``passes`` (all rules).

    Every rule is a higher-order array expression over the split token
    array — one codegen'd scan, no explode, no shuffle, no Python. The
    per-rule flags (not just the verdict) are what a curation run
    wants at 100 TB: per-rule rejection rates are the tuning signal."""
    toks = F.split(F.col(text_col), " ")
    n_words = F.size(toks)
    mean_len = (F.length(text_col) - n_words + 1).cast("double") / n_words
    alpha_frac = (
        F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]"))).cast("double") / n_words
    )
    n_stop = F.size(
        F.array_intersect(
            F.array_distinct(toks), F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])
        )
    )
    f_words = (
        (n_words >= GOPHER_MIN_WORDS) & (n_words <= GOPHER_MAX_WORDS)
    ).cast("int")
    f_len = (
        (mean_len >= GOPHER_MIN_MEAN_LEN) & (mean_len <= GOPHER_MAX_MEAN_LEN)
    ).cast("int")
    f_alpha = (alpha_frac >= GOPHER_MIN_ALPHA_FRAC).cast("int")
    f_stop = (n_stop >= GOPHER_MIN_STOPWORDS).cast("int")
    return df.select(
        "*",
        n_words.alias("n_words"),
        F.round(mean_len, 4).alias("mean_word_len"),
        F.round(alpha_frac, 4).alias("alpha_frac"),
        n_stop.alias("n_stop"),
        f_words.alias("flag_words"),
        f_len.alias("flag_mean_len"),
        f_alpha.alias("flag_alpha"),
        f_stop.alias("flag_stop"),
        (f_words * f_len * f_alpha * f_stop).alias("passes"),
    )


def _gopher_oracle() -> str:
    """DuckDB twin generated from the same constants."""
    stop = ", ".join(repr(w) for w in GOPHER_STOPWORDS)
    return f"""
        WITH m AS (
          SELECT doc_id,
                 len(string_split(text, ' ')) AS n_words,
                 (length(text) - len(string_split(text, ' ')) + 1)::DOUBLE
                     / len(string_split(text, ' ')) AS mean_len,
                 len(list_filter(string_split(text, ' '),
                                 t -> regexp_matches(t, '[A-Za-z]')))::DOUBLE
                     / len(string_split(text, ' ')) AS alpha_frac,
                 len(list_intersect(list_distinct(string_split(text, ' ')),
                                    [{stop}])) AS n_stop
          FROM documents
        )
        SELECT doc_id, n_words,
               round(mean_len, 4) AS mean_word_len,
               round(alpha_frac, 4) AS alpha_frac,
               n_stop,
               (n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS})::INT
                   AS flag_words,
               (mean_len BETWEEN {GOPHER_MIN_MEAN_LEN} AND {GOPHER_MAX_MEAN_LEN})::INT
                   AS flag_mean_len,
               (alpha_frac >= {GOPHER_MIN_ALPHA_FRAC})::INT AS flag_alpha,
               (n_stop >= {GOPHER_MIN_STOPWORDS})::INT AS flag_stop,
               (n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS})::INT
                 * (mean_len BETWEEN {GOPHER_MIN_MEAN_LEN} AND {GOPHER_MAX_MEAN_LEN})::INT
                 * (alpha_frac >= {GOPHER_MIN_ALPHA_FRAC})::INT
                 * (n_stop >= {GOPHER_MIN_STOPWORDS})::INT AS passes
        FROM m
    """


@query("q_gopher_rules", oracle=_gopher_oracle())
def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality-rule filter over documents: per-rule 0/1 flags +
    overall verdict, thresholds from the Gopher paper (word count in
    [50, 100k] splits this fixture near its median; the others are the
    canonical bounds). Single codegen'd scan."""
    d = load_table(spark, sf_dir, "documents")
    return gopher_rules(d).select(
        "doc_id", "n_words", "mean_word_len", "alpha_frac", "n_stop",
        "flag_words", "flag_mean_len", "flag_alpha", "flag_stop", "passes",
    )


@query(
    "q_token_entropy",
    oracle="""
        WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                     FROM documents),
        tf AS (SELECT doc_id, term, count(*) AS c FROM tok GROUP BY 1, 2),
        n AS (SELECT doc_id, sum(c) AS n FROM tf GROUP BY 1)
        SELECT tf.doc_id,
               round(-sum((c::DOUBLE / n) * log2(c::DOUBLE / n)), 4) AS entropy_bits
        FROM tf JOIN n USING (doc_id)
        GROUP BY 1
    """,
)
def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram entropy in bits — the information-density
    quality signal (boilerplate and template spam score low, natural
    prose tracks log2 of its effective vocabulary). Explode → one
    partial-aggregated (doc, term) count shuffle → per-doc window sum
    and entropy reduce; both aggregations key on doc_id so the second
    needs no extra exchange at scale."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("c"))
    from pyspark.sql import Window as W

    n = F.sum("c").over(W.partitionBy("doc_id"))
    p = F.col("c").cast("double") / n
    return (
        tf.withColumn("_h", -p * F.log2(p))
        .groupBy("doc_id")
        .agg(F.round(F.sum("_h"), 4).alias("entropy_bits"))
    )


@query(
    "q_rolling_fingerprint_md5",
    oracle="""
        SELECT doc_id,
               list_reduce(
                   list_prepend(
                       0::BIGINT,
                       list_transform(
                           string_split(text, ' '),
                           t -> ('0x' || substr(md5('0:' || t), 1, 8))::BIGINT
                                % 2147483647
                       )
                   ),
                   (acc, x) -> (acc * 1000003 + x) % 2147483647
               ) AS fingerprint
        FROM documents
    """,
)
def q_rolling_fingerprint_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling-hash fingerprints with the cross-engine
    md5 token hash — the oracle-backed witness for the Rabin-Karp
    fold (q_rolling_fingerprint is the xxhash64 production path,
    rows-only). Same single codegen'd scan; the DuckDB twin folds the
    identical Horner chain via list_reduce with a prepended zero
    accumulator (list_reduce seeds from the first element)."""
    from real_time_data_anomaly_detection_spark.operators.dedup import _md5_hash64

    mod = 2_147_483_647
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    fp = F.aggregate(
        F.transform(toks, lambda t: F.pmod(_md5_hash64(t, 0), F.lit(mod))),
        F.lit(0).cast("bigint"),
        lambda acc, x: F.pmod(acc * 1_000_003 + x, F.lit(mod)),
    )
    return d.select("doc_id", fp.alias("fingerprint"))


@query(
    "q_novelty_scores",
    oracle="""
        WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
        sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
               FROM toks, UNNEST(generate_series(1, len(t)-2)) AS u(i)),
        first_owner AS (
            SELECT shingle, min(doc_id) AS owner FROM sh GROUP BY 1),
        per_doc AS (
            SELECT s.doc_id,
                   count(*) AS n_shingles,
                   CAST(sum(CASE WHEN f.owner = s.doc_id THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_novel
            FROM sh s JOIN first_owner f ON s.shingle = f.shingle
            GROUP BY 1)
        SELECT doc_id, n_shingles, n_novel,
               ((20000 * n_novel + n_shingles) // (2 * n_shingles))
               / 10000.0 AS novelty
        FROM per_doc ORDER BY doc_id
    """,
)
def q_novelty_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram NOVELTY: the fraction of a document's
    distinct 3-gram shingles it is the FIRST to introduce (owner =
    min doc_id over the corpus ordering) — the curation signal behind
    'process in novelty order' dataset schedules and a cheap
    duplicate-cluster detector (a doc with novelty ~0 is all reused
    text). The 4-dp ratio uses the portable integer half-up division
    (the _exact_mean_4dp discipline), not round(double, 4).

    Scale shape: one shingle exchange for the min-owner aggregation,
    one digest-narrow join back, one doc-keyed count — all relations
    are (doc, shingle)-sized, nothing quadratic; the same postings
    algebra every dedup op here shares.
    """
    from real_time_data_anomaly_detection_spark.operators.dedup import shingles

    d = load_table(spark, sf_dir, "documents")
    sh = shingles(d, n=3)
    first_owner = sh.groupBy("shingle").agg(F.min("doc_id").alias("_owner"))
    per_doc = (
        sh.join(first_owner, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                F.when(F.col("_owner") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_novel"),
        )
    )
    num = F.lit(20000) * F.col("n_novel") + F.col("n_shingles")
    den = F.lit(2) * F.col("n_shingles")
    p4 = ((num - F.pmod(num, den)) / den).cast("bigint")
    return per_doc.select(
        "doc_id",
        "n_shingles",
        "n_novel",
        (p4 / F.lit(10000.0)).alias("novelty"),
    ).orderBy("doc_id")

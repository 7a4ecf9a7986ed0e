"""Text analysis for training-data pipelines (SURVEY.md §2.B-10 +charter).

Quality scoring, BPE-ish token counting, document fingerprinting, and a
stopword-ratio language-ID heuristic — all as JVM-side column expressions
over `documents`; no Python in any hot path.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..operators.parity import ratio
from ..registry import register

# BPE-ish pre-tokenizer: word pieces OR single non-space punctuation — the
# standard GPT-2-style pre-split shape, expressed in a regex valid in both
# Java (Spark) and RE2-ish (DuckDB) dialects.
BPE_RE = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"

# Tiny per-language stopword lists for the heuristic language scorer.
STOPWORDS = {
    "en": ("the", "a", "of", "and", "to"),
    "fr": ("le", "la", "de", "et", "un"),
    "es": ("el", "la", "de", "y", "un"),
    "de": ("der", "die", "das", "und", "ein"),
}


@register(
    "text_quality_stats",
    oracle="""
    WITH t AS (
        SELECT doc_id, n_chars,
               list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')
                   AS toks
        FROM documents
    )
    SELECT doc_id,
           CAST(len(toks) AS INTEGER) AS n_tokens,
           CAST(len(list_distinct(toks)) AS INTEGER) AS n_uniq,
           CAST(floor(CAST((len(list_distinct(toks))) * 20000 + (len(toks)) AS DOUBLE) / (2 * (len(toks)))) AS DOUBLE) / 10000.0
               AS uniq_ratio,
           CAST(floor(CAST((list_sum(list_transform(toks, x -> length(x)))) * 20000 + (len(toks)) AS DOUBLE) / (2 * (len(toks)))) AS DOUBLE) / 10000.0
               AS avg_tok_len,
           n_chars
    FROM t
    """,
)
def quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-quality signals: token counts, type/token ratio, mean token length."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != F.lit("")).alias(
            "toks"
        ),
    )
    n = F.size("toks")
    total_chars = F.aggregate(
        "toks", F.lit(0).cast("long"), lambda a, x: a + F.length(x)
    )
    return d.select(
        "doc_id",
        n.alias("n_tokens"),
        F.size(F.array_distinct("toks")).alias("n_uniq"),
        ratio(F.size(F.array_distinct("toks")), n).alias("uniq_ratio"),
        ratio(total_chars, n).alias("avg_tok_len"),
        "n_chars",
    )


@register(
    "text_token_count",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{BPE_RE}')) AS INTEGER) AS n_bpe_tokens,
           CAST(len(string_split_regex(trim(text), '\\s+')) AS INTEGER) AS n_ws_tokens
    FROM documents
    """,
)
def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace and a BPE-ish pre-tokenizer regex."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(BPE_RE), 0)).alias("n_bpe_tokens"),
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_ws_tokens"),
    )


@register(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           sha256(array_to_string(
               list_sort(list_distinct(
                   list_filter(string_split_regex(lower(text), '\\s+'),
                               x -> x <> ''))), ' ')) AS fingerprint
    FROM documents
    """,
)
def fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined fingerprint: sha256 over the sorted distinct token set.

    Robust to token order / repetition (catches shuffled near-dups that exact
    hashing misses); cross-engine EXACT since both ends are sha256-over-text.
    """
    toks = F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != F.lit(""))
    return table(spark, sf_dir, "documents").select(
        "doc_id",
        F.sha2(F.concat_ws(" ", F.sort_array(F.array_distinct(toks))), 256).alias(
            "fingerprint"
        ),
    )


@register(
    "text_normalize",
    oracle="""
    SELECT doc_id,
           trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'),
                               '\\s+', ' ', 'g')) AS norm_text,
           CAST(length(trim(regexp_replace(
               regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'),
               '\\s+', ' ', 'g'))) AS INTEGER) AS n_chars_norm
    FROM documents
    """,
)
def normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text normalization — the first stage of every corpus-cleaning
    pipeline: lowercase, strip non-alphanumerics to spaces, collapse runs of
    whitespace, trim. Pure JVM regexp column expressions (one narrow map, no
    shuffle — a stateless pass at any scale); the same two regexes run on
    both engines for an EXACT oracle."""
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower("text"), r"[^a-z0-9\s]", " "), r"\s+", " "
        )
    )
    return table(spark, sf_dir, "documents").select(
        "doc_id",
        norm.alias("norm_text"),
        F.length(norm).cast("int").alias("n_chars_norm"),
    )


@register(
    "text_repetition_stats",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')
                   AS toks
        FROM documents
    ),
    b AS (
        SELECT doc_id,
               unnest(list_transform(range(len(toks) - 1),
                                     i -> toks[i + 1] || ' ' || toks[i + 2]))
                   AS bigram
        FROM t
    ),
    c AS (SELECT doc_id, bigram, count(*) AS cnt FROM b GROUP BY doc_id, bigram),
    a AS (
        SELECT doc_id, CAST(sum(cnt) AS INTEGER) AS n_bigrams,
               CAST(floor(CAST((max(cnt)) * 20000 + (sum(cnt)) AS DOUBLE) / (2 * (sum(cnt)))) AS DOUBLE) / 10000.0 AS top_bigram_frac
        FROM c GROUP BY doc_id
    ),
    d AS (
        SELECT doc_id,
               CAST(floor(CAST((len(toks) - len(list_distinct(toks))) * 20000 + (len(toks)) AS DOUBLE) / (2 * (len(toks)))) AS DOUBLE) / 10000.0
                   AS dup_token_frac
        FROM t
    )
    SELECT a.doc_id, n_bigrams, top_bigram_frac, dup_token_frac
    FROM a JOIN d ON a.doc_id = d.doc_id
    """,
)
def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document: fraction of bigram mass
    taken by the single most frequent bigram, plus the duplicate-token
    fraction (1 − type/token ratio). High values flag boilerplate / spam /
    template pages for the quality gate.

    Bigram frequencies go through explode → two hash aggregations keyed on
    doc_id, so Spark's map-side partial agg does the per-doc counting where
    the data sits and the shuffle carries only (doc, bigram, count) partials
    — per-doc O(n) work, unlike an array-expression nested scan which would
    be O(n²) per doc."""
    toks = F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != F.lit(""))
    n = F.size("toks")
    bigrams = F.zip_with(
        F.slice("toks", 1, F.greatest(n - 1, F.lit(0))),
        F.slice("toks", 2, F.greatest(n - 1, F.lit(0))),
        lambda x, y: F.concat_ws(" ", x, y),
    )
    t = table(spark, sf_dir, "documents").select("doc_id", toks.alias("toks"))
    counts = (
        t.select("doc_id", F.explode(bigrams).alias("bigram"))
        .groupBy("doc_id", "bigram")
        .count()
    )
    agg = counts.groupBy("doc_id").agg(
        F.sum("count").cast("int").alias("n_bigrams"),
        ratio(F.max("count"), F.sum("count")).alias("top_bigram_frac"),
    )
    dup = t.select(
        "doc_id",
        ratio(n - F.size(F.array_distinct("toks")), n).alias(
            "dup_token_frac"
        ),
    )
    return agg.join(dup, "doc_id").select(
        "doc_id", "n_bigrams", "top_bigram_frac", "dup_token_frac"
    )


def _lang_score_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return f"len(list_intersect(list_distinct(toks), [{words}])) * 1.0 / 5"


@register(
    "text_langid",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')
                   AS toks
        FROM documents
    ),
    scored AS (
        SELECT doc_id,
               {_lang_score_sql('en')} AS s_en,
               {_lang_score_sql('fr')} AS s_fr,
               {_lang_score_sql('es')} AS s_es,
               {_lang_score_sql('de')} AS s_de
        FROM t
    )
    SELECT doc_id,
           CASE WHEN greatest(s_en, s_fr, s_es, s_de) = 0 THEN 'unknown'
                WHEN s_en >= greatest(s_fr, s_es, s_de) THEN 'en'
                WHEN s_fr >= greatest(s_es, s_de) THEN 'fr'
                WHEN s_es >= s_de THEN 'es'
                ELSE 'de' END AS pred_lang,
           round(greatest(s_en, s_fr, s_es, s_de), 4) + 0.0 AS confidence
    FROM scored
    """,
)
def langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: stopword-hit ratio per language, argmax with a
    deterministic preference order on ties (en > fr > es > de > unknown)."""
    toks = F.array_distinct(
        F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != F.lit(""))
    )
    d = table(spark, sf_dir, "documents").select("doc_id", toks.alias("toks"))
    scores = {
        lang: (
            F.size(
                F.array_intersect("toks", F.array(*[F.lit(w) for w in STOPWORDS[lang]]))
            )
            / F.lit(5.0)
        ).alias(f"s_{lang}")
        for lang in STOPWORDS
    }
    s = d.select("doc_id", *scores.values())
    best = F.greatest("s_en", "s_fr", "s_es", "s_de")
    pred = (
        F.when(best == 0, "unknown")
        .when(F.col("s_en") >= F.greatest("s_fr", "s_es", "s_de"), "en")
        .when(F.col("s_fr") >= F.greatest("s_es", "s_de"), "fr")
        .when(F.col("s_es") >= F.col("s_de"), "es")
        .otherwise("de")
    )
    return s.select(
        "doc_id", pred.alias("pred_lang"), (F.round(best, 4) + F.lit(0.0)).alias("confidence")
    )


@register(
    "text_hapax_stats",
    oracle="""
    WITH tok AS (
        SELECT doc_id, lang, unnest(string_split_regex(lower(text), '\\s+'))
               AS term
        FROM documents
    ), tf AS (
        SELECT lang, term, count(*) AS cnt
        FROM tok WHERE term <> '' GROUP BY lang, term
    )
    SELECT lang,
           count(*) AS vocab,
           CAST(sum(cnt) AS BIGINT) AS tokens,
           count(*) FILTER (WHERE cnt = 1) AS hapax,
           count(*) FILTER (WHERE cnt = 2) AS dis,
           CAST(floor(CAST(CAST((count(*)) AS BIGINT) * 20000 + (CAST(sum(cnt) AS BIGINT)) AS DOUBLE) / (2 * (CAST(sum(cnt) AS BIGINT)))) AS DOUBLE) / 10000.0 AS type_token_ratio,
           CAST(floor(CAST(CAST((count(*) FILTER (WHERE cnt = 1)) AS BIGINT) * 20000 + (count(*)) AS DOUBLE) / (2 * (count(*)))) AS DOUBLE) / 10000.0 AS hapax_ratio
    FROM tf GROUP BY lang
    """,
)
def text_hapax_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-richness profile per language: type/token counts, hapax
    legomena (frequency-1 terms) and dis legomena (frequency-2), the
    type-token ratio and hapax share — the Zipf-tail fingerprint corpus
    linguists (and dedup QA: a collapsing hapax share flags boilerplate
    contamination) read first.

    Two map-side-combinable hash aggs — (lang, term) frequencies, then a
    lang-sized rollup with FILTER clauses; the second shuffle carries one
    row per distinct term, the standard vocabulary reduction. Ratios via
    the boundary-proof integer quotient (`parity.ratio`).
    """
    d = table(spark, sf_dir, "documents")
    tok = d.select(
        "lang",
        F.explode(F.split(F.lower("text"), r"\s+")).alias("term"),
    ).where(F.col("term") != "")
    tf = tok.groupBy("lang", "term").agg(F.count("*").alias("cnt"))
    return tf.groupBy("lang").agg(
        F.count("*").alias("vocab"),
        F.sum("cnt").cast("long").alias("tokens"),
        F.count_if(F.col("cnt") == 1).alias("hapax"),
        F.count_if(F.col("cnt") == 2).alias("dis"),
        ratio(F.count("*"), F.sum("cnt").cast("long")).alias(
            "type_token_ratio"
        ),
        ratio(F.count_if(F.col("cnt") == 1), F.count("*")).alias(
            "hapax_ratio"
        ),
    )


@register(
    "text_heaps_curve",
    oracle="""
    WITH tok AS (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                  x -> x <> '')) AS term
        FROM documents
    ),
    nn AS (SELECT max(doc_id) + 1 AS n FROM documents),
    dt AS (
        SELECT CAST(floor(CAST(doc_id * 10 AS DOUBLE) / nn.n) AS INTEGER)
                   AS dec_, count(*) AS toks
        FROM tok, nn GROUP BY 1
    ),
    fs AS (SELECT term, min(doc_id) AS fd FROM tok GROUP BY term),
    dv AS (
        SELECT CAST(floor(CAST(fd * 10 AS DOUBLE) / nn.n) AS INTEGER)
                   AS dec_, count(*) AS vocab
        FROM fs, nn GROUP BY 1
    ),
    d AS (SELECT CAST(unnest(range(10)) AS INTEGER) AS dec_)
    SELECT CAST(d.dec_ + 1 AS INTEGER) AS decile,
           CAST(sum(coalesce(dt.toks, 0)) OVER (ORDER BY d.dec_) AS BIGINT)
               AS cum_tokens,
           CAST(sum(coalesce(dv.vocab, 0)) OVER (ORDER BY d.dec_) AS BIGINT)
               AS cum_vocab
    FROM d LEFT JOIN dt USING (dec_) LEFT JOIN dv USING (dec_)
    """,
)
def text_heaps_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth curve (round 6): cumulative token count
    vs cumulative DISTINCT-term count at each corpus decile (by doc_id) —
    the standard corpus-health diagnostic (natural text grows vocabulary
    ~n^0.5; a flattening curve flags closed-vocabulary/boilerplate data,
    a super-linear one flags noise/PII-like uniqueness). All integer
    counts — no libm, boundary-proof cross-engine.

    Scale shape: two hash aggs over the token stream (per-decile token
    counts; per-TERM first-occurrence doc then per-decile new-term
    counts), then a 10-row cumulative window — the quadratic "recount
    vocabulary per prefix" formulation never materializes. The corpus
    size scalar joins in as a broadcast 1-row relation."""
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.explode(
            F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != F.lit(""))
        ).alias("term"),
    )
    nrel = d.agg((F.max("doc_id") + 1).alias("n"))

    def dec_of(col: str):
        return (
            F.floor((F.col(col) * 10).cast("double") / F.col("n"))
            .cast("int")
            .alias("dec_")
        )

    dt = (
        tok.join(F.broadcast(nrel))
        .groupBy(dec_of("doc_id"))
        .agg(F.count("*").alias("toks"))
    )
    fs = tok.groupBy("term").agg(F.min("doc_id").alias("fd"))
    dv = (
        fs.join(F.broadcast(nrel))
        .groupBy(dec_of("fd"))
        .agg(F.count("*").alias("vocab"))
    )
    deciles = spark.range(10).select(F.col("id").cast("int").alias("dec_"))
    w = Window.orderBy("dec_").rowsBetween(Window.unboundedPreceding, 0)
    return (
        deciles.join(dt, "dec_", "left")
        .join(dv, "dec_", "left")
        .select(
            (F.col("dec_") + 1).cast("int").alias("decile"),
            F.sum(F.coalesce("toks", F.lit(0))).over(w).cast("long").alias("cum_tokens"),
            F.sum(F.coalesce("vocab", F.lit(0))).over(w).cast("long").alias("cum_vocab"),
        )
    )


ZIPF_TOP = 100  # terms in the rank-frequency fit
ZIPF_SCALE = 100_000_000  # ln values quantized to the 1e-8 lattice
# Quantized ln(rank) for every possible rank, computed ONCE in Python and
# embedded as literals in BOTH engines: Java Math.log and C libm are only
# guaranteed within 1 ulp of each other, so deriving qx from each engine's
# own ln() would let a 1-ulp difference at a lattice boundary flip a
# quantized value. A shared literal table removes the x-axis from that
# risk entirely (the y-axis keeps a guard-distance argument, see docstring).
ZIPF_LN_Q = [round(math.log(rk) * ZIPF_SCALE) for rk in range(1, ZIPF_TOP + 1)]


@register(
    "text_zipf_slope",
    oracle=f"""
    WITH tok AS (
        SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                  x -> x <> '')) AS term
        FROM documents
    ),
    tf AS (SELECT term, count(*) AS freq FROM tok GROUP BY term),
    ranked AS (
        SELECT row_number() OVER (ORDER BY freq DESC, term) AS rk, freq
        FROM tf
        ORDER BY freq DESC, term LIMIT {ZIPF_TOP}
    ),
    q AS (
        -- qx from the SHARED Python-computed literal lattice (1-based
        -- list_extract), identical to the Spark side by construction
        SELECT list_extract([{", ".join(str(v) for v in ZIPF_LN_Q)}],
                            CAST(rk AS INT)) AS qx,
               CAST(round(ln(CAST(freq AS DOUBLE)) * {ZIPF_SCALE}) AS BIGINT)
                   AS qy
        FROM ranked
    ),
    s AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               sum(CAST(qx AS HUGEINT)) AS sx, sum(CAST(qy AS HUGEINT)) AS sy,
               sum(CAST(qx AS HUGEINT) * qy) AS sxy,
               sum(CAST(qx AS HUGEINT) * qx) AS sxx
        FROM q
    )
    SELECT n AS n_terms,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE), 4) + 0.0 AS slope,
           round((CAST(sy AS DOUBLE)
                  - CAST(n * sxy - sx * sy AS DOUBLE)
                    / CAST(n * sxx - sx * sx AS DOUBLE)
                    * CAST(sx AS DOUBLE))
                 / CAST(n AS DOUBLE) / {ZIPF_SCALE}, 4) + 0.0 AS intercept
    FROM s
    """,
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law rank-frequency fit — the companion corpus-health
    diagnostic to `text_heaps_curve`: OLS slope of ln(freq) on ln(rank)
    over the top {ZIPF_TOP} terms (natural text sits near −1; a flat
    slope flags templated/boilerplate corpora, a steep one a
    stopword-dominated crawl). Also reports the intercept (ln-scale
    frequency of the hypothetical rank-1 term).

    Oracled via the integer-lattice discipline: qx = quantized ln(rank)
    comes from ONE Python-computed literal table embedded in both engines
    (`ZIPF_LN_Q`) — exact by construction, no libm involved. qy =
    quantized ln(freq) still uses each engine's ln() of an integer; Java
    Math.log and C libm agree only to 1 ulp (not correctly rounded), so
    qy parity is a guard-distance argument, not a guarantee: a 1-ulp
    difference (~1e-6 lattice units at these magnitudes) flips a value
    only if ln(freq)·1e8 sits within ~1e-6 of a half-integer — ~2e-4
    probability across a 100-term fixture, and impossible to trip without
    also changing the corpus. All OLS moments are then order-free exact
    integer sums (decimal(38) partials — the `sim_pca_power` overflow
    rule) and both engines evaluate the identical closed form. The 1e-8
    scales cancel in the slope ratio. Scale shape: one token hash-agg, a
    {ZIPF_TOP}-row
    TakeOrdered, and a single-row moment agg — corpus-linear then
    constant."""
    from pyspark.sql import Window

    tok = table(spark, sf_dir, "documents").select(
        F.explode(
            F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != F.lit(""))
        ).alias("term")
    )
    tf = tok.groupBy("term").agg(F.count("*").alias("freq"))
    top = tf.orderBy(F.desc("freq"), "term").limit(ZIPF_TOP)
    ranked = top.select(
        F.row_number()
        .over(Window.orderBy(F.desc("freq"), "term"))
        .alias("rk"),
        "freq",
    )
    q = ranked.select(
        F.element_at(F.array(*[F.lit(v) for v in ZIPF_LN_Q]), F.col("rk"))
        .cast("long")
        .alias("qx"),
        F.round(F.log(F.col("freq").cast("double")) * ZIPF_SCALE, 0)
        .cast("long")
        .alias("qy"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    s = q.agg(
        F.count("*").alias("n"),
        F.sum(dec(F.col("qx"))).alias("sx"),
        F.sum(dec(F.col("qy"))).alias("sy"),
        F.sum(dec(F.col("qx") * F.col("qy"))).alias("sxy"),
        F.sum(dec(F.col("qx") * F.col("qx"))).alias("sxx"),
    )
    num = (dec(F.col("n")) * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    den = (dec(F.col("n")) * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    slope = num / den
    return s.select(
        F.col("n").cast("long").alias("n_terms"),
        (F.round(slope, 4) + F.lit(0.0)).alias("slope"),
        (
            F.round(
                (
                    F.col("sy").cast("double")
                    - slope * F.col("sx").cast("double")
                )
                / F.col("n").cast("double")
                / ZIPF_SCALE,
                4,
            )
            + F.lit(0.0)
        ).alias("intercept"),
    )


@register(
    "text_readability",
    oracle="""
    WITH m AS (
        SELECT doc_id,
               CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
                    AS BIGINT) AS letters,
               CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
                                    x -> x <> '')) AS BIGINT) AS words,
               CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+')))
                    AS BIGINT) AS sentences
        FROM documents
    )
    SELECT doc_id, letters, words, sentences,
           round(0.0588 * (100.0 * letters / words)
                 - 0.296 * (100.0 * sentences / words) - 15.8, 4) + 0.0
               AS cli
    FROM m WHERE words > 0
    """,
)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coleman–Liau readability index per document — the quality-scoring
    signal that needs no syllable dictionary (CLI = 0.0588·L − 0.296·S −
    15.8 over letters-per-100-words L and sentences-per-100-words S, the
    published formula): a grade far outside ~[0, 20] flags non-prose
    (code, tables, boilerplate) that slips past length/stopword gates.

    EXACT: letters/words/sentences are integer counts from byte-explicit
    regex classes (both engines count the same runs; sentence count
    floors at 1 so fragments don't divide by zero), and both engines
    evaluate the identical closed form on exact integers before the one
    4-dp round. Scale shape: pure map-side string work fused into the
    scan — no shuffle, no join."""
    d = table(spark, sf_dir, "documents")
    letters = F.length(F.regexp_replace(F.lower("text"), "[^a-z]", ""))
    words = F.size(
        F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != F.lit(""))
    )
    sentences = F.greatest(
        F.lit(1), F.size(F.expr("regexp_extract_all(text, '[.!?]+', 0)"))
    )
    m = d.select(
        "doc_id",
        letters.cast("long").alias("letters"),
        words.cast("long").alias("words"),
        sentences.cast("long").alias("sentences"),
    ).where(F.col("words") > 0)
    cli = (
        F.lit(0.0588) * (F.lit(100.0) * F.col("letters") / F.col("words"))
        - F.lit(0.296) * (F.lit(100.0) * F.col("sentences") / F.col("words"))
        - F.lit(15.8)
    )
    return m.select(
        "doc_id",
        "letters",
        "words",
        "sentences",
        (F.round(cli, 4) + F.lit(0.0)).alias("cli"),
    )


WINNOW_K = 5  # char k-gram width
WINNOW_W = 4  # winnowing window (consecutive gram hashes)


def _winnow_oracle() -> str:
    from ..operators.parity import sql_ratio
    from ..xhash import XH_P, xh1_sql

    k, w = WINNOW_K, WINNOW_W
    return f"""
    WITH d AS (
        SELECT doc_id,
               trim(regexp_replace(regexp_replace(lower(text),
                   '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')) AS norm
        FROM documents
    ),
    g AS (
        SELECT doc_id, CAST(length(norm) - {k - 1} AS BIGINT) AS n_grams,
               CAST(p AS BIGINT) AS p,
               {xh1_sql(f"substr(norm, p + 1, {k})")} AS h
        FROM (SELECT doc_id, norm,
                     unnest(range(length(norm) - {k - 1})) AS p
              FROM d WHERE length(norm) >= {k + w - 1})
    ),
    wins AS (
        SELECT doc_id, n_grams, i,
               min(h * 8 + ({w - 1} - (p - i))) AS mk
        FROM (SELECT doc_id, n_grams, p, h,
                     unnest(range(greatest(0, p - {w - 1}),
                                  least(p, n_grams - {w}) + 1)) AS i
              FROM g)
        GROUP BY doc_id, n_grams, i
    ),
    sel AS (
        SELECT DISTINCT doc_id, n_grams,
               i + ({w - 1} - (mk % 8)) AS pos, mk // 8 AS h
        FROM wins
    )
    SELECT doc_id, n_grams,
           CAST(count(*) AS BIGINT) AS n_fp,
           CAST(sum((pos + 1) * h) % {XH_P} AS BIGINT) AS fp_check,
           {sql_ratio("count(*)", f"n_grams - {w - 1}")} AS density
    FROM sel
    GROUP BY doc_id, n_grams
    """


@register("text_winnowing", oracle=_winnow_oracle())
def text_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every char {k}-gram of the
    normalized text, slide a window of {w} consecutive hashes, record the
    window minimum (rightmost on ties); the guarantee is that any match
    of length ≥ w + k − 1 shares a fingerprint, at ~2/(w+1) the density
    of full k-gram hashing.

    The rightmost-min-per-window selection is relational: each gram row
    fans out to the ≤{w} windows containing it carrying an encoded key
    `h·8 + (w−1−offset)` whose per-window MIN simultaneously picks the
    smallest hash AND the rightmost position (smaller offset complement =
    larger offset); decode, distinct, and reduce to a per-doc profile
    (count, order-free checksum, density). Portable char-fold hashes
    (`xhash.xh1`) keep both engines bit-identical.

    Scale shape: map-side fan-out of factor {w} (explode, no join), ONE
    (doc, window)-keyed hash agg, one distinct, one doc-keyed agg — all
    shuffles are doc-local keys; no all-pairs stage anywhere. The full
    (doc, pos, hash) selection relation — what a plagiarism index would
    sink — exists as the `sel` stage; the registered output is its
    compact per-doc reduction."""
    from ..xhash import XH_P

    sel = winnow_selection(spark, sf_dir)
    w = WINNOW_W
    return sel.groupBy("doc_id", "n_grams").agg(
        F.count("*").cast("long").alias("n_fp"),
        (F.sum((F.col("pos") + 1) * F.col("h")) % XH_P)
        .cast("long")
        .alias("fp_check"),
        ratio(F.count("*"), F.first("n_grams") - (w - 1)).alias("density"),
    )


def winnow_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full winnowed (doc_id, pos, h) selection relation — what a
    plagiarism/overlap index sinks; `text_winnowing` reduces it to the
    per-doc profile. Kept public so tests can pin the containment
    guarantee (any ≥ w+k−1 char match shares a fingerprint)."""
    from ..xhash import xh1

    k, w = WINNOW_K, WINNOW_W
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.trim(
            F.regexp_replace(
                F.regexp_replace(F.lower("text"), r"[^a-z0-9\s]", " "),
                r"\s+",
                " ",
            )
        ).alias("norm"),
    ).where(F.length("norm") >= k + w - 1)
    g = d.select(
        "doc_id",
        (F.length("norm") - (k - 1)).cast("long").alias("n_grams"),
        F.explode(
            F.sequence(F.lit(0), F.length("norm") - k)
        ).alias("p"),
        "norm",
    ).select(
        "doc_id",
        "n_grams",
        F.col("p").cast("long").alias("p"),
        xh1(f"substring(norm, p + 1, {k})").alias("h"),
    )
    wins = (
        g.select(
            "doc_id",
            "n_grams",
            "p",
            "h",
            F.explode(
                F.sequence(
                    F.greatest(F.lit(0), F.col("p") - (w - 1)),
                    F.least(F.col("p"), F.col("n_grams") - w),
                )
            ).alias("i"),
        )
        .groupBy("doc_id", "n_grams", "i")
        .agg(
            F.min(
                F.col("h") * 8 + ((w - 1) - (F.col("p") - F.col("i")))
            ).alias("mk")
        )
    )
    return wins.select(
        "doc_id",
        "n_grams",
        (F.col("i") + ((w - 1) - F.col("mk") % 8)).alias("pos"),
        F.expr("mk div 8").alias("h"),
    ).distinct()


text_winnowing.__doc__ = text_winnowing.__doc__.replace(
    "{k}", str(WINNOW_K)
).replace("{w}", str(WINNOW_W))

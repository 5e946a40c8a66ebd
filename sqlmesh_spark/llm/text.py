"""Text-analysis operators over the documents table.

All four operators are pure Spark SQL expressions (JVM-side, whole-stage
codegen) — at 100 TB these run at scan speed with no Python in the loop.
Each has a DuckDB oracle computing the identical result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from sqlmesh_spark.llm.dedup import _rx_replace_all
from sqlmesh_spark.registry import register
from sqlmesh_spark.sources.tables import register_views

# Dialect helpers — Spark / DuckDB pairs for the few divergent functions.


def _rx_count(col: str, pat: str, dialect: str) -> str:
    """Patterns are real regex text; Spark literals need backslash
    doubling, DuckDB literals are raw (see audits._rx)."""
    if dialect == "duckdb":
        return f"len(regexp_extract_all({col}, '{pat}'))"
    return f"regexp_count({col}, '{pat.replace(chr(92), chr(92) * 2)}')"


def _norm(col: str, dialect: str = "spark") -> str:
    """Normalization for fingerprinting: lowercase, strip punctuation,
    collapse whitespace — replace-ALL in both engines via the shared
    dialect seam (DuckDB's 3-arg regexp_replace is first-match-only)."""
    inner = _rx_replace_all(f"lower({col})", "[^a-z0-9 ]", "", dialect)
    return f"trim({_rx_replace_all(inner, ' +', ' ', dialect)})"


def token_count_sql(table: str, dialect: str = "spark") -> str:
    """Whitespace tokens + a BPE-ish regex token count (letters runs /
    digits / single punctuation — the classic pre-tokenizer shape)."""
    ws = _rx_count("text", "[^ ]+", dialect)
    bpe = _rx_count("text", "[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]", dialect)
    return f"""
SELECT doc_id, {ws} AS ws_tokens, {bpe} AS bpe_tokens,
       LENGTH(text) AS n_chars
FROM {table}
"""


def quality_score_sql(table: str, dialect: str = "spark") -> str:
    """Heuristic quality scoring: length, punctuation density, stopword
    ratio, mean word length — the standard pre-training filters
    (C4/Gopher-style rules) as one scan."""
    n_words = _rx_count("text", "[^ ]+", dialect)
    n_punct = _rx_count("text", "[.,!?;:]", dialect)
    n_stop = _rx_count(
        "lower(text)", "\\b(the|a|an|and|or|of|to|in|is|was)\\b", dialect
    )
    return f"""
SELECT doc_id,
       LENGTH(text) AS n_chars,
       {n_words} AS n_words,
       ROUND(CAST(LENGTH(text) AS DOUBLE) / {n_words}, 4) AS mean_word_len,
       ROUND(CAST({n_punct} AS DOUBLE) / {n_words}, 4) AS punct_ratio,
       ROUND(CAST({n_stop} AS DOUBLE) / {n_words}, 4) AS stopword_ratio,
       CASE WHEN LENGTH(text) >= 100 AND {n_words} >= 20
             AND CAST({n_punct} AS DOUBLE) / {n_words} < 0.3 THEN 1 ELSE 0 END AS keep
FROM {table}
"""


_LANG_PROFILES = {
    "en": "\\b(the|and|of|to|is)\\b",
    "de": "\\b(der|die|das|und|ist)\\b",
    "fr": "\\b(le|la|les|et|est)\\b",
    "es": "\\b(el|la|los|y|es)\\b",
}


def langid_sql(table: str, dialect: str = "spark") -> str:
    """N-gram/stopword-profile language ID: score per language = count of
    profile matches; argmax with deterministic tie-break (score DESC, then
    profile order). 'und' (undetermined) when nothing matches."""
    scores = {
        lang: _rx_count("lower(text)", pat, dialect) for lang, pat in _LANG_PROFILES.items()
    }
    score_cols = ", ".join(f"{expr} AS s_{lang}" for lang, expr in scores.items())
    langs = list(_LANG_PROFILES)
    best = f"GREATEST({', '.join('s_' + l for l in langs)})"
    pick = "CASE "
    for lang in langs:  # first profile wins ties — deterministic
        pick += f"WHEN s_{lang} = {best} AND s_{lang} > 0 THEN '{lang}' "
    pick += "ELSE 'und' END"
    return f"""
SELECT doc_id, {pick} AS predicted_lang, {best} AS best_score
FROM (SELECT doc_id, text, {score_cols} FROM {table}) scored
"""


def fingerprint_sql(table: str, dialect: str = "spark") -> str:
    """Document fingerprint: md5 over normalized text plus a coarse
    locality bucket (md5 of the first 64 normalized chars) — the cheap
    prefilter for fuzzy dedup at scale."""
    norm = _norm("text", dialect)
    return f"""
SELECT doc_id,
       MD5({norm}) AS fingerprint,
       MD5(SUBSTRING({norm}, 1, 64)) AS prefix_bucket
FROM {table}
"""


def ngram_familiarity_sql(table: str, dialect: str = "spark") -> str:
    """Corpus n-gram familiarity scoring — the CCNet/KenLM-style quality
    signal in exact integer form: per document, how common are its word
    bigrams across the corpus? Distinct bigrams per doc join against the
    corpus document-frequency table; familiarity_avg_ppm is the mean doc
    frequency in parts-per-million via pure BIGINT division (no log, no
    float — bit-identical across engines). Low familiarity ⇒ gibberish or
    highly atypical text; high ⇒ boilerplate.

    Scale: within-doc dedup happens in the projection (ARRAY_DISTINCT —
    no DISTINCT exchange); the df aggregate and the join back both hash
    on the bigram key, so the second reuses the first's partitioning, and
    the final per-doc rollup is the only other shuffle."""
    if dialect == "duckdb":
        bigrams = f"""
  SELECT doc_id, unnest(list_distinct(list_filter(list_transform(
           range(1, greatest(len(ws) - 1, 1) + 1),
           i -> ws[i] || ' ' || ws[i + 1]), x -> x IS NOT NULL))) AS bg
  FROM (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM {table})
"""
        idiv = "//"
    else:
        bigrams = f"""
  SELECT doc_id, EXPLODE(ARRAY_DISTINCT(FILTER(TRANSFORM(
           sequence(1, GREATEST(SIZE(ws) - 1, 1)),
           i -> CONCAT(element_at(ws, CAST(i AS INT)), ' ',
                       element_at(ws, CAST(i + 1 AS INT)))),
           x -> x IS NOT NULL))) AS bg
  FROM (SELECT doc_id, split(lower(text), ' ') AS ws FROM {table})
"""
        idiv = "DIV"
    return f"""
WITH doc_bigrams AS ({bigrams}),
df AS (SELECT bg, COUNT(*) AS doc_freq FROM doc_bigrams GROUP BY bg)
SELECT b.doc_id,
       COUNT(*) AS n_bigrams,
       CAST(SUM(d.doc_freq) AS BIGINT) AS familiarity_sum,
       CAST((1000000 * SUM(d.doc_freq)) {idiv} COUNT(*) AS BIGINT) AS familiarity_avg_ppm
FROM doc_bigrams b JOIN df d ON b.bg = d.bg
GROUP BY b.doc_id
"""


def _case(sql_fn):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from sqlmesh_spark.llm.dedup import spread_scan

        register_views(spark, sf_dir, ("documents",))
        # The regexp projections are CPU-bound; a 1-split local scan would
        # run them all on one core (no-op at scale — see spread_scan).
        docs = spread_scan(spark, "documents", "text_docs")
        return spark.sql(sql_fn(docs, dialect="spark"))

    return run


register("text_token_count", oracle=token_count_sql("documents", "duckdb"), tags=("llm", "text"))(
    _case(token_count_sql)
)
register("text_quality_score", oracle=quality_score_sql("documents", "duckdb"), tags=("llm", "text"))(
    _case(quality_score_sql)
)
register("text_langid", oracle=langid_sql("documents", "duckdb"), tags=("llm", "text"))(
    _case(langid_sql)
)
register("text_fingerprint", oracle=fingerprint_sql("documents", "duckdb"), tags=("llm", "text"))(
    _case(fingerprint_sql)
)
register(
    "text_ngram_familiarity",
    oracle=ngram_familiarity_sql("documents", "duckdb"),
    tags=("llm", "text"),
)(_case(ngram_familiarity_sql))


def hashed_classifier_sql(table: str, dialect: str = "spark") -> str:
    """Hashed-feature linear quality classifier — the fasttext-style score
    every big filtering pipeline runs, with DETERMINISTIC weights: each
    distinct token hashes (md5 → first 7 hex chars → int, identical in
    both engines) into a signed integer weight in [-500, 500]; the doc
    score is the weight sum over distinct tokens, pure BIGINT arithmetic,
    bit-identical across engines. Swap the md5-derived weight for a
    broadcast-joined learned weight table and this is a real linear model
    at scan speed.

    Scale: token dedup happens in the projection (ARRAY_DISTINCT /
    list_distinct — no DISTINCT exchange); explode + one doc_id group-by
    is the only shuffle. No Python anywhere."""
    if dialect == "duckdb":
        toks = (
            f"SELECT doc_id, unnest(list_distinct(string_split(lower(text), ' '))) AS tok "
            f"FROM {table}"
        )
        w = "CAST(('0x' || substr(md5(tok),1,7)) AS BIGINT) % 1001 - 500"
    else:
        toks = (
            f"SELECT doc_id, EXPLODE(ARRAY_DISTINCT(split(lower(text), ' '))) AS tok "
            f"FROM {table}"
        )
        w = "CAST(CONV(SUBSTRING(MD5(tok),1,7),16,10) AS BIGINT) % 1001 - 500"
    return f"""
WITH doc_tokens AS ({toks})
SELECT doc_id,
       COUNT(*) AS n_terms,
       CAST(SUM({w}) AS BIGINT) AS score_sum,
       CASE WHEN SUM({w}) >= 0 THEN 'keep' ELSE 'drop' END AS label
FROM doc_tokens WHERE tok <> ''
GROUP BY doc_id
"""


register(
    "text_hashed_classifier",
    oracle=hashed_classifier_sql("documents", "duckdb"),
    tags=("llm", "text"),
)(_case(hashed_classifier_sql))


def training_pipeline_sql(table: str, dialect: str = "spark") -> str:
    """The end-to-end pre-training data pipeline as ONE statement:
    quality-filter (C4/Gopher-style) → language filter (en) → exact dedup
    on normalized text (keep min doc_id) → deterministic train/valid split
    (hash mod 10). All per-doc signals are computed in a single fused scan
    projection (at 100 TB this runs at scan speed; the only shuffle is the
    fingerprint group-by), with the split hash portable across engines.

    This is the oracle form: the ``kept`` relation feeds both the dedup
    group-by and the final join, which DuckDB materializes once. The
    Spark runtime reads the fused scan once instead, through
    training_pipeline_kept_sql + training_pipeline_window_sql.
    """
    from sqlmesh_spark.llm.dedup import _hash60

    split_hash = _hash60("CAST(doc_id AS STRING)", dialect)
    return f"""
WITH signals AS ({training_pipeline_kept_sql(table, dialect, signals_only=True)}),
kept AS (SELECT * FROM signals WHERE keep = 1 AND is_en = 1),
dedup AS (
  SELECT fingerprint, MIN(doc_id) AS keeper FROM kept GROUP BY fingerprint
)
SELECT k.doc_id, k.bpe_tokens,
       CASE WHEN {split_hash} % 10 < 9 THEN 'train' ELSE 'valid' END AS split
FROM kept k JOIN dedup d ON k.doc_id = d.keeper
"""


def training_pipeline_kept_sql(
    table: str, dialect: str = "spark", signals_only: bool = False
) -> str:
    """The fused signal scan (quality + language + fingerprint + token
    count) with the keep filters — the expensive single-scan stage the
    runtime caches before the dedup join."""
    n_words = _rx_count("text", "[^ ]+", dialect)
    n_punct = _rx_count("text", "[.,!?;:]", dialect)
    bpe = _rx_count("text", "[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]", dialect)
    en = _rx_count("lower(text)", _LANG_PROFILES["en"], dialect)
    others = [
        _rx_count("lower(text)", pat, dialect)
        for lang, pat in _LANG_PROFILES.items()
        if lang != "en"
    ]
    norm = _norm("text", dialect)
    signals = f"""
  SELECT doc_id,
         {bpe} AS bpe_tokens,
         MD5({norm}) AS fingerprint,
         CASE WHEN LENGTH(text) >= 100 AND {n_words} >= 20
               AND CAST({n_punct} AS DOUBLE) / {n_words} < 0.3 THEN 1 ELSE 0 END AS keep,
         CASE WHEN {en} >= GREATEST({', '.join(others)}) AND {en} > 0
              THEN 1 ELSE 0 END AS is_en
  FROM {table}
"""
    if signals_only:
        return signals
    return f"SELECT * FROM ({signals}) s WHERE keep = 1 AND is_en = 1"


def training_pipeline_window_sql(kept_relation: str) -> str:
    """Spark fast path for the dedup tail of training_pipeline_sql,
    value-identical: `keep rows where doc_id = MIN(doc_id) per
    fingerprint` as ONE window pass instead of a GROUP BY relation
    joined back on doc_id (guide §2.4 — the window reuses a single
    fingerprint exchange; the join form paid the fingerprint group-by
    AND a second join exchange, and forced the kept relation to be
    computed/cached twice). NULL fingerprints group together in both
    forms, so the surviving doc set is identical."""
    from sqlmesh_spark.llm.dedup import _hash60

    split_hash = _hash60("CAST(doc_id AS STRING)", "spark")
    return f"""
SELECT doc_id, bpe_tokens,
       CASE WHEN {split_hash} % 10 < 9 THEN 'train' ELSE 'valid' END AS split
FROM (
  SELECT doc_id, bpe_tokens,
         MIN(doc_id) OVER (PARTITION BY fingerprint) AS keeper
  FROM {kept_relation}
) w WHERE doc_id = keeper
"""


def _pipeline_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("documents",))
    # Single-reference plan now (the window dedup reads kept once), so
    # the fused multi-regex scan runs exactly once WITHOUT a cache —
    # caching it would only add an InMemoryRelation materialization.
    kept = spark.sql(training_pipeline_kept_sql("documents", "spark"))
    kept.createOrReplaceTempView("pipeline_kept")
    return spark.sql(training_pipeline_window_sql("pipeline_kept"))


register(
    "pipeline_training_data",
    oracle=training_pipeline_sql("documents", "duckdb"),
    tags=("llm", "text", "pipeline", "bench"),
)(_pipeline_case)


def langid_eval_sql(table: str, dialect: str = "spark") -> str:
    """Language-ID evaluated against the corpus's gold `lang` labels —
    the confusion counts a data-quality dashboard tracks. Same fused scan
    as langid_sql plus one group-by."""
    inner = langid_sql(table, dialect)
    return f"""
WITH pred AS ({inner})
SELECT d.lang AS gold_lang, p.predicted_lang,
       COUNT(*) AS n
FROM {table} d JOIN pred p ON d.doc_id = p.doc_id
GROUP BY d.lang, p.predicted_lang
"""


register(
    "text_langid_eval",
    oracle=langid_eval_sql("documents", "duckdb"),
    tags=("llm", "text"),
)(_case(langid_eval_sql))

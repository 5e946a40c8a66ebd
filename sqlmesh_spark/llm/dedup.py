"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine — the standard near-dup ladder for pre-training corpora.

Everything is built from set-oriented Spark SQL (shuffle-friendly,
no driver loops, no row-at-a-time Python UDFs) except the sign-LSH band
producer, one vectorized int64 matmul per Arrow batch:

- Shingling explodes positions with sequence(); at 100 TB you shingle
  per-partition at scan speed and the only shuffles are the group-bys.
- MinHash banding turns the O(n²) pair space into per-bucket joins —
  the LSH candidate join is the scale path; the exact-Jaccard verify
  runs only on candidates.
- Hashes are md5-derived 60-bit ints (CONV on Spark, '0x..'::BIGINT on
  DuckDB) so every case has a true value-level oracle. Production would
  swap in xxhash64 (same shape, JVM-native, no hex detour).

A signature family with a Spark fast path (MinHash, SimHash, sign-LSH)
keeps exactly two forms: the oracle builder, which also runs under
DuckDB, and one Spark pipeline over cached relations.

Reference tie-in: the reference's own dedup surface is @deduplicate
(macros.py:1241) — exact key dedup; the fuzzy ladder here is the
engine-level extension a training-data pipeline needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from sqlmesh_spark.registry import register
from sqlmesh_spark.sources.tables import register_views


def _rx_replace_all(col: str, pat: str, rep: str, dialect: str) -> str:
    """Replace-ALL semantics in both engines: DuckDB's 3-arg
    regexp_replace replaces only the FIRST match, so it needs the 'g'
    flag; Spark replaces all by default but wants backslashes doubled in
    SQL string literals. Every replace-all dialect seam routes through
    here — do not hand-roll the flag."""
    if dialect == "duckdb":
        return f"regexp_replace({col}, '{pat}', '{rep}', 'g')"
    return f"regexp_replace({col}, '{pat.replace(chr(92), chr(92) * 2)}', '{rep}')"


def _hash60(expr: str, dialect: str) -> str:
    """Portable 60-bit integer hash from md5 hex."""
    if dialect == "duckdb":
        return f"CAST('0x' || substr(md5({expr}), 1, 15) AS BIGINT)"
    return f"CAST(CONV(SUBSTRING(MD5({expr}), 1, 15), 16, 10) AS BIGINT)"


def _seq(lo: str, hi: str, alias: str, dialect: str, lateral: bool = True) -> str:
    """Integer range [lo, hi] as a join-able relation. ``lateral=True`` for
    use after a comma-join (Spark requires the LATERAL keyword there);
    ``lateral=False`` for a standalone FROM (table-valued function form)."""
    if dialect == "duckdb":
        return f"unnest(generate_series({lo}, {hi})) AS _{alias}({alias})"
    kw = "LATERAL " if lateral else ""
    return f"{kw}explode(sequence({lo}, {hi})) AS _{alias}({alias})"


def _shingles(table: str, k: int, dialect: str) -> str:
    """Distinct character k-gram shingles per document."""
    return f"""
  SELECT DISTINCT doc_id, SUBSTRING(text, CAST(i AS INT), {k}) AS g
  FROM {table}, {_seq("1", f"GREATEST(LENGTH(text) - {k - 1}, 1)", "i", dialect)}
"""


def shingle_hashes_sql(table: str, k: int, dialect: str) -> str:
    """Distinct 60-bit shingle hashes per document — the int-domain form
    every minhash stage consumes (see minhash_lsh_sql perf note).

    Spark path: within-doc dedup happens BEFORE hashing, inside the
    projection (ARRAY_DISTINCT over the substring array), so (a) the
    expensive md5 runs once per distinct shingle (~1.4× fewer calls on
    this corpus), and (b) no DISTINCT exchange exists at all — explode of
    an already-distinct array is shuffle-free. DuckDB keeps the row form;
    the (doc_id, hg) set is identical either way."""
    if dialect == "duckdb":
        h = _hash60(f"SUBSTRING(text, CAST(i AS INT), {k})", dialect)
        return f"""
  SELECT DISTINCT doc_id, {h} AS hg
  FROM {table}, {_seq("1", f"GREATEST(LENGTH(text) - {k - 1}, 1)", "i", dialect)}
"""
    h = _hash60("g", "spark")
    return f"""
  SELECT doc_id, {h} AS hg
  FROM (SELECT doc_id,
               EXPLODE(ARRAY_DISTINCT(TRANSFORM(
                 sequence(1, GREATEST(LENGTH(text) - {k - 1}, 1)),
                 i -> SUBSTRING(text, CAST(i AS INT), {k})))) AS g
        FROM {table})
"""


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup_sql(table: str, dialect: str = "spark") -> str:
    """Hash-groupBy exact dedup on normalized text: emit the keeper
    (min doc_id) and the duplicate count per content hash."""
    norm = f"trim({_rx_replace_all('lower(text)', ' +', ' ', dialect)})"
    return f"""
SELECT MD5({norm}) AS content_hash,
       MIN(doc_id) AS keeper_doc_id,
       COUNT(*) AS n_copies
FROM {table}
GROUP BY MD5({norm})
"""


# ---------------------------------------------------------------------------
# Brute-force n-gram Jaccard (the truth the fuzzy methods approximate)
# ---------------------------------------------------------------------------


def ngram_jaccard_sql(
    table: str,
    k: int = 5,
    threshold: float = 0.6,
    dialect: str = "spark",
    max_df: int | None = None,
) -> str:
    """Inverted-index pair generation with an optional STOP-SHINGLE CAP.

    Without a cap, a boilerplate shingle shared by df documents fans out
    df·(df-1)/2 candidate rows in the pair join — on this test corpus one
    shingle reaches df=402/500, and at corpus scale a license header or
    nav-bar shingle appearing in 10⁸ docs is a 10¹⁶-row skew bomb on one
    join key. ``max_df`` drops shingles with document frequency > max_df
    BEFORE the pair join (one extra group-by + semi join), bounding the
    per-shingle fan-out at max_df² and removing exactly the shingles that
    carry no near-dup signal. Jaccard is then computed over the capped
    shingle sets (sizes use the same capped relation), the standard
    stopword treatment — identical SQL shape on both engines, so the
    DuckDB oracle applies the same cap.
    """
    if max_df is None:
        capped = "sh"
        cap_cte = ""
    else:
        capped = "sh_capped"
        cap_cte = f"""
df AS (SELECT g FROM sh GROUP BY g HAVING COUNT(*) <= {max_df}),
sh_capped AS (SELECT sh.doc_id, sh.g FROM sh JOIN df ON sh.g = df.g),"""
    return f"""
WITH sh AS ({_shingles(table, k, dialect)}),{cap_cte}
sizes AS (SELECT doc_id, COUNT(*) AS n FROM {capped} GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS common
  FROM {capped} a JOIN {capped} b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT d1, d2,
       ROUND(CAST(common AS DOUBLE) / (s1.n + s2.n - common), 4) AS jaccard
FROM pairs JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
WHERE CAST(common AS DOUBLE) / (s1.n + s2.n - common) > {threshold}
"""


# ---------------------------------------------------------------------------
# MinHash + LSH (shingle → minhash → band → bucket-join → verify)
# ---------------------------------------------------------------------------


def minhash_lsh_sql(
    table: str,
    k: int = 5,
    num_hashes: int = 32,
    band_size: int = 4,
    threshold: float = 0.6,
    dialect: str = "spark",
) -> str:
    """Candidate pairs from banded minhash signatures, then exact-Jaccard
    verification on candidates only.

    num_hashes=32, band_size=4 → 8 bands: detection probability
    1-(1-j⁴)⁸ ≈ 1.0 at j≥0.9, ~0.56 at j=0.6 — tuned for near-dup
    harvesting. Band keys are order-insensitive BIT_XOR folds, portable
    across engines.

    Perf: md5 runs ONCE per shingle; the num_hashes functions derive via
    universal hashing (aᵢ·x + bᵢ) mod p over the base hash — pure int64
    arithmetic inside whole-stage codegen (a 5-6× wall-clock win over
    hashing per (shingle, i)). Bounds: base < 2³², aᵢ < 2³⁰ → products
    < 2⁶² stay in signed int64 on every engine.
    """
    ha = _hash60("CONCAT('a', CAST(i AS STRING))", dialect)
    hb = _hash60("CONCAT('b', CAST(i AS STRING))", dialect)
    bh = _hash60("CONCAT(CAST(i AS STRING), '_', CAST(mh AS STRING))", dialect)
    xor = "BIT_XOR" if dialect != "duckdb" else "bit_xor"
    p = 4294967311  # prime > 2^32
    # Shingles hash to int64 BEFORE the DISTINCT: every downstream shuffle
    # (dedup, sizes, sig agg, verify join) then moves 8-byte ints, not
    # strings — the dominant cost at scale is shuffle bytes, not md5.
    # DuckDB auto-materializes the multiply-referenced CTE; the Spark
    # runtime path is minhash_lsh_wide_sql over cached relations.
    return f"""
WITH sh AS ({shingle_hashes_sql(table, k, dialect)}),
hf AS (
  SELECT i, ({ha} % 1073741823) + 1 AS a, {hb} % 4294967296 AS b
  FROM {_seq("0", str(num_hashes - 1), "i", dialect, lateral=False)}
),
sig AS (
  SELECT doc_id, i, MIN((hf.a * (sh.hg % 4294967296) + hf.b) % {p}) AS mh
  FROM sh CROSS JOIN hf
  GROUP BY doc_id, i
),
bands AS (
  SELECT doc_id, CAST(FLOOR(i / {band_size}) AS INT) AS band, {xor}({bh}) AS bkey
  FROM sig GROUP BY doc_id, CAST(FLOOR(i / {band_size}) AS INT)
),
candidates AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
verified AS (
  SELECT c.d1, c.d2, COUNT(*) AS common
  FROM candidates c
  JOIN sh a ON a.doc_id = c.d1
  JOIN sh b ON b.doc_id = c.d2 AND b.hg = a.hg
  GROUP BY c.d1, c.d2
)
SELECT v.d1, v.d2,
       ROUND(CAST(common AS DOUBLE) / (s1.n + s2.n - common), 4) AS jaccard
FROM verified v JOIN sizes s1 ON v.d1 = s1.doc_id JOIN sizes s2 ON v.d2 = s2.doc_id
WHERE CAST(common AS DOUBLE) / (s1.n + s2.n - common) > {threshold}
"""


def _hash60_py(s: str) -> int:
    """Python twin of _hash60 — identical md5-derived 60-bit ints, used to
    inline hash-function constants as literals in the wide formulation."""
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def docset_sql(table: str, k: int = 5) -> str:
    """Per-document distinct shingle-hash set as one array column — the
    relation the wide minhash formulation consumes. ZERO shuffles: the
    substring array dedups in place (ARRAY_DISTINCT) and only the distinct
    shingles get the md5 (~1.4× fewer hash calls than hashing every
    position), all inside one projection — strictly cheaper than the
    earlier COLLECT_SET group-by form, which paid an exchange of every
    shingle hash AND hashed duplicates (2× slower measured at sf0.1)."""
    h = _hash60("g", "spark")
    return f"""
  SELECT doc_id, TRANSFORM(
           ARRAY_DISTINCT(TRANSFORM(
             sequence(1, GREATEST(LENGTH(text) - {k - 1}, 1)),
             i -> SUBSTRING(text, CAST(i AS INT), {k}))),
           g -> {h}) AS hs
  FROM {table}
"""


def minhash_bands_sql(
    docsets_relation: str,
    num_hashes: int = 32,
    band_size: int = 4,
) -> str:
    """(doc_id, band, bkey) rows from per-doc shingle-hash arrays — the
    banded-signature relation the candidate self-join probes. Split out so
    the runtime can CACHE it: the self-join references it twice, and Spark
    inlines CTEs, so an uncached bands relation computes signatures + md5
    band keys TWICE (measured ~0.4 s of the wide pipeline at sf0.1)."""
    p = 4294967311
    consts = [
        ((_hash60_py(f"a{i}") % 1073741823) + 1, _hash60_py(f"b{i}") % 4294967296)
        for i in range(num_hashes)
    ]
    mins = ",\n         ".join(
        f"ARRAY_MIN(TRANSFORM(hs, x -> ({a} * (x % 4294967296) + {b}) % {p})) AS mh{i}"
        for i, (a, b) in enumerate(consts)
    )
    n_bands = num_hashes // band_size
    bkeys = []
    for band in range(n_bands):
        terms = [
            _hash60(f"CONCAT('{i}_', CAST(mh{i} AS STRING))", "spark")
            for i in range(band * band_size, (band + 1) * band_size)
        ]
        bkeys.append(" ^ ".join(f"({t})" for t in terms) + f" AS bkey{band}")
    stack_args = ", ".join(f"{band}, bkey{band}" for band in range(n_bands))
    return f"""
SELECT doc_id, STACK({n_bands}, {stack_args}) AS (band, bkey)
FROM (SELECT doc_id, {", ".join(bkeys)}
      FROM (SELECT doc_id,
       {mins}
            FROM {docsets_relation}))
"""


def minhash_lsh_wide_sql(
    docsets_relation: str,
    bands_relation: str,
    threshold: float = 0.6,
) -> str:
    """Spark fast path for minhash_lsh_sql, value-identical to the narrow
    oracle formulation but with a fundamentally lighter shuffle profile:

    - narrow (oracle) form: shingle DISTINCT shuffle, |shingles|·num_hashes
      rows through the signature group-by, a second band group-by, and a
      verify JOIN carrying |candidates|·|shingles/doc| rows.
    - this form: the per-doc shingle-hash arrays (docset_sql) and their
      band keys (minhash_bands_sql) are projections — no exchange; the
      candidate self-join on band keys is the first shuffle, and
      verification is SIZE(ARRAY_INTERSECT(hs, hs)) on candidate pairs —
      array ops against two broadcast-joined doc arrays instead of a
      multi-million-row shuffle join.

    At 100 TB the per-doc array is bounded by document length (shingles of
    one doc always fit one executor), so every stage scales with
    |docs| + |candidate pairs|, not |shingles|².

    Hash constants aᵢ/bᵢ are md5-derived exactly as the oracle derives
    them in SQL, inlined as literals, so results hash-match the DuckDB
    oracle bit-for-bit (verified by test_minhash_wide_matches_narrow).

    Both relations name cached temp views (the candidate self-join reads
    the bands twice, the verify join the docsets twice), referenced
    DIRECTLY, never via a ``WITH x AS (SELECT * FROM …)`` alias: Spark's
    cache lookup misses through a CTE reference (CTERelationRef
    canonicalizes differently than the cached plan), silently recomputing
    the relation once per reference.
    """
    # The threshold predicate as EXACT integers referencing `common` once:
    # c/(s-c) > num/den  ⟺  c·(den+num) > num·s. The float form
    # c/(n1+n2-c) > t mentions c twice, and Catalyst substitutes the full
    # ARRAY_INTERSECT expression per mention when pushing the filter —
    # doubling the dominant verify cost (~0.7 s at sf0.1). Equivalence is
    # exact (both sides integers), so results match the float oracle.
    from fractions import Fraction

    frac = Fraction(str(threshold))
    num, den = frac.numerator, frac.denominator
    return f"""
WITH candidates AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM {bands_relation} a JOIN {bands_relation} b
    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
),
verified AS (
  SELECT c.d1, c.d2,
         SIZE(ARRAY_INTERSECT(s1.hs, s2.hs)) AS common,
         SIZE(s1.hs) AS n1, SIZE(s2.hs) AS n2
  FROM candidates c
  JOIN {docsets_relation} s1 ON s1.doc_id = c.d1
  JOIN {docsets_relation} s2 ON s2.doc_id = c.d2
)
SELECT d1, d2,
       ROUND(CAST(common AS DOUBLE) / (n1 + n2 - common), 4) AS jaccard
FROM verified
WHERE common * {den + num} > {num} * (n1 + n2)
"""


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_sql(table: str, max_hamming: int = 3, dialect: str = "spark") -> str:
    """64→60-bit SimHash over distinct words; near-dup pairs by Hamming
    distance. Bit extraction and XOR differ lexically per engine."""
    h = _hash60("w", dialect)
    if dialect == "duckdb":
        bit = "((h >> b) & 1)"
        ham = "bit_count(xor(a.simhash, b.simhash))"
    else:
        bit = "(SHIFTRIGHT(h, b) & 1)"
        ham = "bit_count(a.simhash ^ b.simhash)"
    if dialect == "duckdb":
        words = "SELECT DISTINCT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM " + table
    else:
        words = (
            "SELECT DISTINCT doc_id, w FROM "
            + table
            + " LATERAL VIEW explode(split(lower(text), ' ')) AS w"
        )
    return f"""
WITH words AS ({words}),
tok AS (SELECT doc_id, {h} AS h FROM words WHERE w <> ''),
bits AS (
  SELECT doc_id, b,
         CASE WHEN SUM(CASE WHEN {bit} = 1 THEN 1 ELSE -1 END) > 0 THEN 1 ELSE 0 END AS bitval
  FROM tok, {_seq("0", "59", "b", dialect)}
  GROUP BY doc_id, b
),
sigs AS (
  SELECT doc_id, SUM(bitval * CAST(POWER(2, b) AS BIGINT)) AS simhash
  FROM bits GROUP BY doc_id
)
SELECT a.doc_id AS d1, b.doc_id AS d2, {ham} AS hamming
FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
WHERE {ham} <= {max_hamming}
"""


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup (rank-based: top-N closest pairs)
# ---------------------------------------------------------------------------


def embedding_topn_pairs_sql(table: str, top_n: int = 20, dialect: str = "spark") -> str:
    """Top-N most-similar embedding pairs by exact cosine — the EXACT
    small-corpus rung of the embedding-dedup ladder: all-pairs O(n²) dot
    products BY DESIGN, the truth that bucketed variants approximate. At
    corpus scale use dedup_embedding_lsh (sign-LSH buckets, no n² exchange)
    or the ann_* operators in similarity.py. Dot products and
    norms accumulate as scaled integers (ROUND(x*y*1e6) per element) so the
    sums are order-insensitive and bit-identical across engines; ordering
    uses the rounded similarity with id tie-breaks."""
    if dialect == "duckdb":
        elems = f"""
  SELECT vec_id, CAST(i AS INT) AS ord, CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS val
  FROM {table}, unnest(generate_series(1, len(embedding))) AS _i(i)
"""
    else:
        elems = f"""
  SELECT vec_id, pos + 1 AS ord, CAST(val AS DOUBLE) AS val
  FROM {table} LATERAL VIEW posexplode(embedding) AS pos, val
"""
    return f"""
WITH elems AS ({elems}),
norms AS (
  SELECT vec_id, SUM(CAST(ROUND(val * val * 1000000) AS BIGINT)) AS nrm
  FROM elems GROUP BY vec_id
),
dots AS (
  SELECT a.vec_id AS v1, b.vec_id AS v2,
         SUM(CAST(ROUND(a.val * b.val * 1000000) AS BIGINT)) AS dot
  FROM elems a JOIN elems b ON a.ord = b.ord AND a.vec_id < b.vec_id
  GROUP BY a.vec_id, b.vec_id
),
sims AS (
  SELECT v1, v2,
         ROUND(CAST(dot AS DOUBLE) / SQRT(CAST(n1.nrm AS DOUBLE) * CAST(n2.nrm AS DOUBLE)), 6) AS cosine
  FROM dots JOIN norms n1 ON v1 = n1.vec_id JOIN norms n2 ON v2 = n2.vec_id
)
SELECT v1, v2, cosine FROM sims
ORDER BY cosine DESC, v1, v2
LIMIT {top_n}
"""


# ---------------------------------------------------------------------------
# Registry cases
# ---------------------------------------------------------------------------


def _doc_case(sql_fn, **kwargs):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_views(spark, sf_dir, ("documents",))
        return spark.sql(sql_fn("documents", dialect="spark", **kwargs))

    return run


register("dedup_exact", oracle=exact_dedup_sql("documents", "duckdb"), tags=("llm", "dedup"))(
    _doc_case(exact_dedup_sql)
)
# max_df=250 (half the sf0.01 corpus): boilerplate shingles (max observed
# df=402/500) are dropped before the pair join on BOTH engines. The
# recall-eval harness below keeps the uncapped form as its exact truth.
register(
    "dedup_ngram_jaccard",
    oracle=ngram_jaccard_sql("documents", dialect="duckdb", max_df=250),
    tags=("llm", "dedup"),
)(_doc_case(ngram_jaccard_sql, max_df=250))
def spread_scan(spark: SparkSession, table: str, view: str) -> str:
    """Re-expose ``table`` as ``view`` repartitioned to the session's
    parallelism IF its scan is under-partitioned (small local files read
    as 1 split, serializing every CPU-heavy expression downstream). At
    scale the scan already has ≥cores splits and this is a no-op — no
    gratuitous shuffle of a big corpus."""
    df = spark.table(table)
    n_part = max(spark.sparkContext.defaultParallelism, 8)
    if df.rdd.getNumPartitions() < n_part:
        df = df.repartition(n_part)
    df.createOrReplaceTempView(view)
    return view


def _minhash_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("documents",))
    docs = spread_scan(spark, "documents", "mh_docs")
    # docset_sql is a pure projection now, so it inherits the spread scan's
    # partitioning directly (no repartition). Cache it: the docset relation
    # is read 3× (signatures + both sides of the verify join). Cache the
    # BANDS relation too — the candidate self-join reads it twice, and
    # uncached that recomputes signatures + md5 band keys per leg
    # (~0.4 s at sf0.1; at corpus scale, a full second signature pass).
    ds = spark.sql(docset_sql(docs, 5))
    ds.cache().createOrReplaceTempView("mh_docsets")
    # SQL bands and the SQL ARRAY_INTERSECT verify tail both won their
    # interleaved A/Bs against Arrow mapInPandas forms at sf0.1 (bands
    # 0.290 vs 0.415 s min-of-8, OPTIMIZATION_r13.md §2; tail 1.57/1.88 vs
    # 1.70/1.93 s min/median, OPTIMIZATION_r12.md).
    bands = spark.sql(minhash_bands_sql("mh_docsets"))
    bands.cache().createOrReplaceTempView("mh_bands")
    return spark.sql(minhash_lsh_wide_sql("mh_docsets", "mh_bands"))


register(
    "dedup_minhash_lsh",
    oracle=minhash_lsh_sql("documents", dialect="duckdb"),
    tags=("llm", "dedup", "bench"),
)(_minhash_case)
def simhash_bands_sql(table: str, n_bands: int = 4) -> str:
    """(doc_id, simhash, band, bval) — the banded-signature relation the
    candidate self-join probes; split out so the runtime caches it (the
    self-join reads it twice and Spark inlines CTEs — same pitfall as
    minhash_bands_sql)."""
    width = 60 // n_bands
    h = _hash60("w", "spark")
    words = (
        f"SELECT doc_id, COLLECT_SET({h}) AS hs FROM "
        f"(SELECT doc_id, w FROM {table} LATERAL VIEW explode(split(lower(text), ' ')) AS w "
        "WHERE w <> '') GROUP BY doc_id"
    )
    bit = (
        "CASE WHEN AGGREGATE(hs, 0L, (acc, h) -> acc + "
        "IF((SHIFTRIGHT(h, b) & 1) = 1, 1, -1)) > 0 THEN SHIFTLEFT(1L, b) ELSE 0L END"
    )
    bands = ", ".join(
        f"(SHIFTRIGHT(simhash, {i * width}) & {(1 << width) - 1}) AS band{i}"
        for i in range(n_bands)
    )
    stack = ", ".join(f"{i}, band{i}" for i in range(n_bands))
    return f"""
SELECT doc_id, simhash, STACK({n_bands}, {stack}) AS (band, bval)
FROM (SELECT doc_id, simhash, {bands} FROM
  (SELECT doc_id,
          AGGREGATE(TRANSFORM(SEQUENCE(0, 59), b -> {bit}), 0L, (a, v) -> a + v) AS simhash
   FROM ({words})))
"""


def simhash_banded_sql(
    bands_relation: str,
    max_hamming: int = 3,
    n_bands: int = 4,
) -> str:
    """Spark fast path for simhash_sql, value-identical output, over the
    cached simhash_bands_sql relation named by ``bands_relation``.

    The narrow oracle form compares all O(n²) signature pairs. Here the
    60-bit signature splits into ``n_bands`` 15-bit bands; by pigeonhole,
    any pair within Hamming distance ≤ n_bands-1 matches at least one band
    EXACTLY, so an equi self-join per band (one shuffle on the band value)
    finds every qualifying pair — 100% recall, zero approximation — and
    the exact popcount filter prunes false candidates. At 100 TB the pair
    space collapses from |docs|² to Σ|band bucket|².

    Signature computation is also one group-by (doc word-sets) + an
    interpreted fold per bit instead of a |words|·60-row exchange.
    """
    assert max_hamming < n_bands, "pigeonhole recall requires max_hamming < n_bands"
    return f"""
SELECT d1, d2, bit_count(s1 ^ s2) AS hamming
FROM (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
         a.simhash AS s1, b.simhash AS s2
  FROM {bands_relation} a JOIN {bands_relation} b
    ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id
) candidates
WHERE bit_count(s1 ^ s2) <= {max_hamming}
"""


def _simhash_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("documents",))
    docs = spread_scan(spark, "documents", "sh_docs")
    bands = spark.sql(simhash_bands_sql(docs))
    bands.cache().createOrReplaceTempView("sh_bands")
    return spark.sql(simhash_banded_sql("sh_bands"))


register(
    "dedup_simhash",
    oracle=simhash_sql("documents", dialect="duckdb"),
    tags=("llm", "dedup"),
)(_simhash_case)


def embedding_topn_zipwith_sql(table: str, top_n: int = 20) -> str:
    """Spark fast path for embedding_topn_pairs_sql: norms fold once per
    vector, dot products fold pairs in place (ZIP_WITH + AGGREGATE) —
    no element explosion, no |vectors|·dim join. Scaled-int folds keep
    results bit-identical to the explode-based oracle."""
    # casts hoisted out of the pair loop (see ann_topk_zipwith_sql note)
    dot = (
        "AGGREGATE(ZIP_WITH(a.emb, b.emb, "
        "(x, y) -> CAST(ROUND(x * y * 1000000) AS BIGINT)), "
        "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    norm = (
        "AGGREGATE(TRANSFORM(CAST(embedding AS ARRAY<DOUBLE>), "
        "x -> CAST(ROUND(x * x * 1000000) AS BIGINT)), "
        "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    return f"""
WITH nrm AS (SELECT vec_id, CAST(embedding AS ARRAY<DOUBLE>) AS emb, {norm} AS nrm FROM {table}),
sims AS (
  SELECT a.vec_id AS v1, b.vec_id AS v2,
         ROUND(CAST({dot} AS DOUBLE) / SQRT(CAST(a.nrm AS DOUBLE) * CAST(b.nrm AS DOUBLE)), 6) AS cosine
  FROM nrm a JOIN nrm b ON a.vec_id < b.vec_id
)
SELECT v1, v2, cosine FROM sims
ORDER BY cosine DESC, v1, v2
LIMIT {top_n}
"""


def _emb_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("embeddings",))
    corpus = spread_scan(spark, "embeddings", "emb_corpus")
    return spark.sql(embedding_topn_zipwith_sql(corpus))


register(
    "dedup_embedding_cosine",
    oracle=embedding_topn_pairs_sql("embeddings", dialect="duckdb"),
    tags=("llm", "dedup"),
)(_emb_case)


def _plane_sgn_sql(p_expr: str, ord_expr: str, dialect: str) -> str:
    """Deterministic ±1 hyperplane weight for (plane, element) — md5-derived
    so both engines build bit-identical planes."""
    h = _hash60(
        f"CONCAT('pl', CAST({p_expr} AS STRING), '_', CAST({ord_expr} AS STRING))",
        dialect,
    )
    return f"(CASE WHEN ({h}) % 2 = 0 THEN 1 ELSE -1 END)"


def embedding_lsh_sig_sql(
    table: str,
    n_planes: int = 16,
    band_size: int = 4,
    dialect: str = "spark",
) -> str:
    """The sign-LSH band derivation of embedding_lsh_pairs_sql as a CTE
    list (no leading WITH): ``elems`` (one row per vector element),
    ``planes`` (md5-derived ±1 weights), ``projs`` (scaled-int
    projections) and ``sig`` — (vec_id, band, bkey), the band rows the
    candidate self-join probes. The oracle builds on it, and the Arrow
    producer (embedding_lsh_bands_arrow) is checked against its ``sig``."""
    if dialect == "duckdb":
        elems = f"""
  SELECT vec_id, CAST(i AS INT) AS ord, CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS val
  FROM {table}, unnest(generate_series(1, len(embedding))) AS _i(i)
"""
        planes = f"""
  SELECT CAST(p AS INT) AS p, CAST(o AS INT) AS ord,
         {_plane_sgn_sql("p", "o", "duckdb")} AS sgn
  FROM unnest(generate_series(0, {n_planes - 1})) AS _p(p),
       unnest(generate_series(1, (SELECT MAX(len(embedding)) FROM {table}))) AS _o(o)
"""
    else:
        elems = f"""
  SELECT vec_id, pos + 1 AS ord, CAST(val AS DOUBLE) AS val
  FROM {table} LATERAL VIEW posexplode(embedding) AS pos, val
"""
        planes = f"""
  SELECT CAST(p AS INT) AS p, CAST(o AS INT) AS ord,
         {_plane_sgn_sql("p", "o", "spark")} AS sgn
  FROM (SELECT explode(sequence(0, {n_planes - 1})) AS p)
  LATERAL VIEW explode(sequence(1, (SELECT MAX(SIZE(embedding)) FROM {table}))) AS o
"""
    return f"""elems AS ({elems}),
planes AS ({planes}),
projs AS (
  SELECT e.vec_id, pl.p,
         SUM(CAST(ROUND(e.val * 1000000) AS BIGINT) * pl.sgn) AS proj
  FROM elems e JOIN planes pl ON e.ord = pl.ord
  GROUP BY e.vec_id, pl.p
),
sig AS (
  SELECT vec_id, CAST(FLOOR(p / {band_size}) AS INT) AS band,
         SUM(CASE WHEN proj > 0 THEN CAST(POWER(2, p % {band_size}) AS BIGINT) ELSE 0 END) AS bkey
  FROM projs
  GROUP BY vec_id, CAST(FLOOR(p / {band_size}) AS INT)
)"""


def embedding_lsh_pairs_sql(
    table: str,
    n_planes: int = 16,
    band_size: int = 4,
    top_n: int = 20,
    dialect: str = "spark",
    threshold: float | None = None,
) -> str:
    """Sign-LSH bucketed embedding near-dup: the SCALE path the round-2
    verdict asked for next to the exact all-pairs rung
    (embedding_topn_pairs_sql).

    Random-hyperplane signatures (n_planes sign bits, ±1 weights derived
    from md5 so both engines agree bit-for-bit) split into bands; a pair
    is a candidate iff it matches at least one band EXACTLY, so candidate
    generation is |bands| equi self-joins on (band, bandkey) — per-bucket
    work, never an n² exchange. Exact scaled-int cosine then runs on
    candidates only, and the result is the top-N candidate pairs by
    cosine (rank-based like the exact rung; on a corpus with true
    near-dups the same pipeline takes a threshold instead).

    Projections accumulate as scaled integers (ROUND(val*1e6)·sgn), so
    the sign of each bit is order-insensitive and identical across
    engines — float summation order can never flip a bucket.

    P(candidate) for a pair at angle θ: 1-(1-(1-θ/π)^band_size)^n_bands —
    at cosine 0.9 ≈ 0.97, at cosine 0 ≈ 0.23: the bucket join prunes ~77%
    of random pairs while keeping near-dups, and the pruning sharpens
    exponentially as corpora develop real duplicate mass.
    """
    return f"""
WITH {embedding_lsh_sig_sql(table, n_planes, band_size, dialect)},
candidates AS (
  SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2
  FROM sig a JOIN sig b
    ON a.band = b.band AND a.bkey = b.bkey AND a.vec_id < b.vec_id
),
norms AS (
  SELECT vec_id, SUM(CAST(ROUND(val * val * 1000000) AS BIGINT)) AS nrm
  FROM elems GROUP BY vec_id
),
dots AS (
  SELECT c.v1, c.v2,
         SUM(CAST(ROUND(a.val * b.val * 1000000) AS BIGINT)) AS dot
  FROM candidates c
  JOIN elems a ON a.vec_id = c.v1
  JOIN elems b ON b.vec_id = c.v2 AND b.ord = a.ord
  GROUP BY c.v1, c.v2
)
SELECT d.v1, d.v2,
       ROUND(CAST(d.dot AS DOUBLE) / SQRT(CAST(n1.nrm AS DOUBLE) * CAST(n2.nrm AS DOUBLE)), 6) AS cosine
FROM dots d JOIN norms n1 ON d.v1 = n1.vec_id JOIN norms n2 ON d.v2 = n2.vec_id
{f"WHERE ROUND(CAST(d.dot AS DOUBLE) / SQRT(CAST(n1.nrm AS DOUBLE) * CAST(n2.nrm AS DOUBLE)), 6) >= {threshold}" if threshold is not None else f"ORDER BY cosine DESC, d.v1, d.v2 LIMIT {top_n}"}
"""


def embedding_lsh_bands_arrow(
    spark: "SparkSession",
    table: str,
    dim: int = 64,
    n_planes: int = 16,
    band_size: int = 4,
):
    """(vec_id, band, bkey) sign-LSH band rows via an Arrow-batched
    int64 matmul — bit-identical to the oracle's ``sig`` relation
    (embedding_lsh_sig_sql) but vectorized: one (rows × dim) @
    (dim × planes) integer matmul per Arrow batch. The SQL ZIP_WITH fold
    it replaced ran n_planes×dim interpreted lambda evaluations PER ROW;
    at 100× (200k vectors) that ran past 15 minutes and out of an 8 GiB
    heap, where this form took 8.8 s (SCALE.md).

    Exactness argument: each element is scaled to an int64
    (ROUND(x·1e6), half away from zero — numpy's round is half-EVEN,
    so the sign·floor(|x|+0.5) form is used), the ±1 plane weights come
    from the same md5 derivation (_hash60_py == _hash60 SQL), and
    int64 sums are order-insensitive — so every projection, sign bit,
    and band key matches the oracle's formulation exactly, batch
    order notwithstanding. Zero shuffles: a pure mapInPandas
    projection; the band-key bucket join downstream is the first
    exchange.
    """
    import numpy as np

    P = np.array(
        [
            [
                1 if _hash60_py(f"pl{p}_{o}") % 2 == 0 else -1
                for o in range(1, dim + 1)
            ]
            for p in range(n_planes)
        ],
        dtype=np.int64,
    )
    n_bands = n_planes // band_size
    bit_vals = (2 ** (np.arange(n_planes, dtype=np.int64) % band_size))

    def _bands(batches):  # closure: workers cannot import this module
        import numpy as _np
        import pandas as _pd

        for pdf in batches:
            if not len(pdf):
                continue
            emb = _np.stack(pdf["embedding"].to_numpy()).astype(_np.float64)
            # interior NULL elements arrive as NaN through Arrow; such
            # a vector has no exact projection, so drop it with one
            # vectorized mask
            ok = ~_np.isnan(emb).any(axis=1)
            if not ok.all():
                emb = emb[ok]
                pdf = pdf[ok]
                if not len(pdf):
                    continue
            s = emb * 1_000_000.0
            scaled = (_np.sign(s) * _np.floor(_np.abs(s) + 0.5)).astype(
                _np.int64
            )
            proj = scaled @ P.T  # (n, n_planes) exact int64
            bits = (proj > 0).astype(_np.int64) * bit_vals
            bk = bits.reshape(len(pdf), n_bands, band_size).sum(axis=2)
            yield _pd.DataFrame(
                {
                    "vec_id": _np.repeat(
                        pdf["vec_id"].to_numpy(), n_bands
                    ),
                    "band": _np.tile(
                        _np.arange(n_bands, dtype=_np.int32), len(pdf)
                    ),
                    "bkey": bk.reshape(-1),
                }
            )

    # NULL / ragged / null-element embeddings get no band rows, so they
    # never become candidates. NULL/ragged rows go via an O(1) SQL guard
    # (an interpreted per-element filter() here cost ~4× wall on the
    # 100× scale run); interior NULL elements arrive as NaN through
    # Arrow and are dropped by the vectorized isnan mask in the worker.
    fed = spark.table(table).select("vec_id", "embedding").where(
        f"embedding IS NOT NULL AND size(embedding) = {dim}"
    )
    return fed.mapInPandas(
        _bands, schema="vec_id bigint, band int, bkey bigint"
    )


def embedding_lsh_wide_sql(
    table: str,
    bands_relation: str,
    top_n: int = 20,
    threshold: float | None = None,
) -> str:
    """Spark fast path for embedding_lsh_pairs_sql, value-identical output
    with NO element explosion: the band rows come from the cached
    embedding_lsh_bands_arrow relation named by ``bands_relation``, so the
    only shuffles are the band-key join and the final top-N. Candidate
    verification is a ZIP_WITH cosine against the two broadcast-joined
    embedding arrays — |candidates| folds, not an |elems|² join.
    """
    # casts hoisted out of the candidate loop (ann_topk_zipwith_sql note)
    dot = (
        "AGGREGATE(ZIP_WITH(a.emb, b.emb, "
        "(x, y) -> CAST(ROUND(x * y * 1000000) AS BIGINT)), "
        "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    norm = (
        "AGGREGATE(TRANSFORM(CAST(embedding AS ARRAY<DOUBLE>), "
        "x -> CAST(ROUND(x * x * 1000000) AS BIGINT)), "
        "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    return f"""
WITH vecs AS (SELECT vec_id, CAST(embedding AS ARRAY<DOUBLE>) AS emb, {norm} AS nrm FROM {table}),
candidates AS (
  SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2
  FROM {bands_relation} a JOIN {bands_relation} b
    ON a.band = b.band AND a.bkey = b.bkey AND a.vec_id < b.vec_id
),
verified AS (
  SELECT c.v1, c.v2,
         ROUND(CAST({dot} AS DOUBLE) / SQRT(CAST(a.nrm AS DOUBLE) * CAST(b.nrm AS DOUBLE)), 6) AS cosine
  FROM candidates c
  JOIN vecs a ON a.vec_id = c.v1
  JOIN vecs b ON b.vec_id = c.v2
)
SELECT v1, v2, cosine FROM verified
{f"WHERE cosine >= {threshold}" if threshold is not None else f"ORDER BY cosine DESC, v1, v2 LIMIT {top_n}"}
"""


def sign_lsh_pairs(
    spark: SparkSession,
    sf_dir: str,
    view: str,
    n_planes: int = 16,
    band_size: int = 4,
    threshold: float | None = None,
) -> DataFrame:
    """The one sign-LSH embedding pipeline: spread scan → cached Arrow
    bands → embedding_lsh_wide_sql. Top-20 pairs by cosine, or every
    pair at or above ``threshold``. ``view`` prefixes the temp views it
    registers (``<view>_corpus``, ``<view>_bands``)."""
    register_views(spark, sf_dir, ("embeddings",))
    corpus = spread_scan(spark, "embeddings", f"{view}_corpus")
    bands = embedding_lsh_bands_arrow(
        spark, corpus, n_planes=n_planes, band_size=band_size
    )
    bands.cache().createOrReplaceTempView(f"{view}_bands")
    return spark.sql(
        embedding_lsh_wide_sql(corpus, f"{view}_bands", threshold=threshold)
    )


def _emb_lsh_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sign_lsh_pairs(spark, sf_dir, "emb_lsh")


register(
    "dedup_embedding_lsh",
    oracle=embedding_lsh_pairs_sql("embeddings", dialect="duckdb"),
    tags=("llm", "dedup"),
)(_emb_lsh_case)


def _emb_lsh_wide_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CORPUS-SCALE parameterization of sign-LSH embedding dedup.

    The default 16-plane/4-bit-band config has only 2^4 = 16 buckets
    per band — a FIXED bucket count, so candidate pairs grow
    Σ C(n_b, 2) ≈ n²/(2·16) per band: measured quadratic at the 100×
    scale run (the candidate join exceeded the single-node scratch
    disk). Bucket cardinality must grow with the corpus: 64 planes in
    4 bands of 16 bits give 2^16 = 65,536 buckets per band — expected
    bucket occupancy n/65k stays O(1) up to multi-million-vector
    corpora and re-tunes by adding bits. Per-pair detection at
    duplicate-grade cosine (≥0.99) is 1-(1-(1-θ/π)^16)^4 ≈ 0.93, and
    the exact-cosine verify rung keeps precision exact. Same Arrow
    int64-matmul signatures; the DuckDB oracle runs the identical
    64-plane pipeline, so the hash match proves the whole path."""
    return sign_lsh_pairs(spark, sf_dir, "emb_lshw", n_planes=64, band_size=16)


register(
    "dedup_embedding_lsh_wide",
    oracle=embedding_lsh_pairs_sql(
        "embeddings", n_planes=64, band_size=16, dialect="duckdb"
    ),
    tags=("llm", "dedup"),
)(_emb_lsh_wide_case)


def _source_matrix_oracle() -> str:
    pairs = minhash_lsh_sql("documents", dialect="duckdb")
    return f"""
WITH pairs AS ({pairs})
SELECT LEAST(a.source, b.source) AS src1,
       GREATEST(a.source, b.source) AS src2,
       COUNT(*) AS n_pairs
FROM pairs p
JOIN documents a ON p.d1 = a.doc_id
JOIN documents b ON p.d2 = b.doc_id
GROUP BY LEAST(a.source, b.source), GREATEST(a.source, b.source)
"""


def _source_matrix_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication attribution: the near-dup pair list rolled
    up to (source, source) counts — the dashboard that tells a corpus
    owner WHICH feeds copy from each other (and how much of a crawl is
    syndication). Reuses the wide minhash pipeline; the per-pair source
    lookup is two broadcast-able joins on doc_id and the matrix aggregate
    is tiny (|sources|²)."""
    from pyspark.sql import functions as F

    pairs = _minhash_case(spark, sf_dir)
    docs = spark.table("documents").select("doc_id", "source")
    a = docs.withColumnRenamed("doc_id", "d1").withColumnRenamed("source", "sa")
    b = docs.withColumnRenamed("doc_id", "d2").withColumnRenamed("source", "sb")
    return (
        pairs.join(a, "d1")
        .join(b, "d2")
        .groupBy(
            F.least("sa", "sb").alias("src1"), F.greatest("sa", "sb").alias("src2")
        )
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


register(
    "dedup_source_matrix",
    oracle=_source_matrix_oracle(),
    tags=("llm", "dedup"),
)(_source_matrix_case)


def lsh_recall_eval_sql(table: str, dialect: str = "spark") -> str:
    """Quality-eval harness for the LSH ladder: banded-MinHash candidate
    pairs vs the exact all-pairs n-gram-Jaccard TRUTH, as one confusion
    frame — true_pairs / lsh_pairs / hits / misses / false_alarms. This is
    the measurement a production dedup pipeline runs on a sample before
    trusting banding parameters at 100 TB (the truth side is O(n²) by
    design — sample-scale only; the LSH side is the scale path).

    Both sides end verified by exact Jaccard at the same threshold, so
    false_alarms is structurally 0 and misses counts only banding recall
    loss — exactly the quantity the band-size knob trades off."""
    truth = ngram_jaccard_sql(table, dialect=dialect)
    lsh = minhash_lsh_sql(table, dialect=dialect)
    return f"""
WITH truth AS ({truth}),
lsh AS ({lsh}),
joined AS (
  SELECT t.d1 AS t_d1, l.d1 AS l_d1
  FROM truth t FULL OUTER JOIN lsh l ON t.d1 = l.d1 AND t.d2 = l.d2
)
SELECT
  CAST(SUM(CASE WHEN t_d1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS true_pairs,
  CAST(SUM(CASE WHEN l_d1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS lsh_pairs,
  CAST(SUM(CASE WHEN t_d1 IS NOT NULL AND l_d1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits,
  CAST(SUM(CASE WHEN t_d1 IS NOT NULL AND l_d1 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS misses,
  CAST(SUM(CASE WHEN t_d1 IS NULL AND l_d1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS false_alarms
FROM joined
"""


@register("dedup_lsh_recall_eval", oracle=lsh_recall_eval_sql("documents", "duckdb"), tags=("llm", "dedup"))
def dedup_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("documents",))
    docs = spread_scan(spark, "documents", "recall_docs")
    return spark.sql(lsh_recall_eval_sql(docs))


def incremental_dedup_sql(table: str, dialect: str = "spark", prefix: int = 40) -> str:
    """INCREMENTAL corpus dedup: classify a new ingest batch against the
    persisted fingerprint STATE of everything already accepted — the op a
    continuously-fed training corpus runs every cycle (the batch analog
    of streaming_dedup_exactly_once, composing with the adapter's
    insert_append to grow the state table).

    Each batch-2 document is 'dup_of_corpus' (fingerprint already in
    state), 'dup_in_batch' (a smaller doc_id in the same batch owns the
    fingerprint), or 'new'. At 100 TB the state side is a fingerprint
    table joined on an 8-byte-ish hash key (bucket it on fp and the join
    is co-located); the batch side is one scan + one group-by — cost is
    O(batch), never O(corpus), which is the entire point.

    Here the 'state' is modeled as the even-doc_id half of the corpus and
    the batch as the odd half, so both engines compute the identical
    relation from the same table. The fingerprint hashes the normalized
    LEADING ``prefix`` characters (boilerplate-prefix dedup — catches
    mirrored articles whose tails diverge in ads/footers); prefix=None
    semantics would be the whole-text exact form already covered by
    dedup_exact."""
    norm = (
        f"substr(trim({_rx_replace_all('lower(text)', ' +', ' ', dialect)}),"
        f" 1, {prefix})"
    )
    return f"""
WITH state AS (
  SELECT DISTINCT MD5({norm}) AS fp FROM {table} WHERE doc_id % 2 = 0
),
batch AS (
  SELECT doc_id, MD5({norm}) AS fp FROM {table} WHERE doc_id % 2 = 1
),
firsts AS (SELECT fp, MIN(doc_id) AS keeper FROM batch GROUP BY fp)
SELECT b.doc_id, b.fp AS fingerprint,
       CASE WHEN s.fp IS NOT NULL THEN 'dup_of_corpus'
            WHEN b.doc_id <> f.keeper THEN 'dup_in_batch'
            ELSE 'new' END AS status
FROM batch b
LEFT JOIN state s ON b.fp = s.fp
JOIN firsts f ON b.fp = f.fp
"""


register(
    "dedup_incremental_fingerprints",
    oracle=incremental_dedup_sql("documents", "duckdb"),
    tags=("llm", "dedup"),
)(_doc_case(incremental_dedup_sql))

"""LLM data-pipeline operators: parity, LSH recall, multimodal plumbing."""

from __future__ import annotations

import pytest

from sqlmesh_spark.parity import compare_case
from sqlmesh_spark.registry import load_all


def _cases():
    return [(n, c) for n, c in load_all().items() if "llm" in c.tags]


@pytest.mark.parametrize("name,case", _cases(), ids=lambda x: x if isinstance(x, str) else "")
def test_llm_parity(spark, sf_dir, name, case):
    r = compare_case(spark, sf_dir, name, case.fn, case.oracle)
    assert r["match"], r["detail"]


def test_minhash_lsh_recall_vs_bruteforce(spark, sf_dir):
    """LSH candidates + verify must recover (almost) all true near-dup
    pairs; at j≈1.0 the banding detection probability is ~1.0, so on this
    data recall should be total."""
    from sqlmesh_spark.llm.dedup import minhash_lsh_sql, ngram_jaccard_sql
    from sqlmesh_spark.sources.tables import register_views

    register_views(spark, sf_dir, ("documents",))
    truth = {
        (r.d1, r.d2)
        for r in spark.sql(ngram_jaccard_sql("documents", dialect="spark")).collect()
    }
    lsh = {
        (r.d1, r.d2)
        for r in spark.sql(minhash_lsh_sql("documents", dialect="spark")).collect()
    }
    assert lsh <= truth  # verify step guarantees no false positives
    if truth:
        assert len(lsh) / len(truth) >= 0.9


def test_multimodal_schema(spark, sf_dir):
    from sqlmesh_spark.llm.multimodal import attach_binary_payload
    from sqlmesh_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    attached = attach_binary_payload(docs)
    assert dict(attached.dtypes)["payload"] == "binary"
    meta_type = attached.schema["media_meta"].dataType.simpleString()
    assert "n_bytes" in meta_type and "mime" in meta_type


def test_pack_sequences_invariants(spark, sf_dir):
    """Packing must preserve every document exactly once, keep bins
    contiguous in doc_id order within a shard, and never start a doc in a
    bin whose prior content already reached the budget."""
    from sqlmesh_spark.llm.curation import pack_sequences_sql
    from sqlmesh_spark.sources.tables import register_views

    register_views(spark, sf_dir, ("documents",))
    bins = spark.sql(pack_sequences_sql("documents", dialect="spark")).toPandas()
    docs = spark.sql(
        "SELECT COUNT(*) AS n, SUM(size(split(text, ' '))) AS toks FROM documents"
    ).collect()[0]
    assert int(bins.n_docs.sum()) == docs.n  # every doc placed exactly once
    assert int(bins.bin_tokens.sum()) == docs.toks  # no tokens lost
    for _, shard in bins.groupby("shard"):
        s = shard.sort_values("bin")
        # bins are dense 0..k and doc-id ranges never overlap between bins
        assert list(s.bin) == list(range(len(s)))
        assert (s.first_doc.values[1:] > s.last_doc.values[:-1]).all()


def test_paragraph_dedup_conservation(spark, sf_dir):
    """Kept paragraphs across the corpus == distinct paragraphs: dedup
    keeps exactly one copy of everything and loses nothing."""
    from sqlmesh_spark.llm.curation import paragraph_dedup_sql
    from sqlmesh_spark.sources.tables import register_views

    register_views(spark, sf_dir, ("documents",))
    out = spark.sql(paragraph_dedup_sql("documents", dialect="spark")).toPandas()
    distinct_paras = spark.sql(
        """
        SELECT COUNT(DISTINCT para) AS n FROM (
          SELECT explode(transform(
            sequence(0, greatest((size(split(text,' ')) + 24) DIV 25 - 1, 0)),
            j -> array_join(slice(split(text,' '), j * 25 + 1, 25), ' '))) AS para
          FROM documents)
        """
    ).collect()[0].n
    assert int(out.n_kept.sum()) == distinct_paras
    assert (out.n_kept <= out.n_paras).all()


def test_line_filter_no_boilerplate_survives(spark, sf_dir):
    """A reassembled doc can never contain the boilerplate marker token."""
    from sqlmesh_spark.llm.curation import line_filter_sql
    from sqlmesh_spark.sources.tables import register_views

    register_views(spark, sf_dir, ("documents",))
    # Recompute with the cleaned text exposed (md5 in the registered case).
    sql = line_filter_sql("documents", dialect="spark").replace(
        "MD5(", "(", 1
    )
    cleaned = spark.sql(sql).toPandas()
    assert not cleaned.cleaned_md5.str.contains("slow").any()
    assert (cleaned.n_kept <= cleaned.n_lines).all()


def test_connected_components_long_path_converges_logarithmically(spark):
    """A 120-node path graph has diameter 120: plain min-label propagation
    needs 120 rounds, pointer jumping O(log) — must finish well inside 15."""
    from sqlmesh_spark.llm.cluster import connected_components

    edges = spark.createDataFrame([(i, i + 1) for i in range(120)], "d1 int, d2 int")
    rows = connected_components(edges, max_iter=15).collect()
    assert len(rows) == 121
    assert all(r.component == 0 for r in rows)


def test_connected_components_nonconvergence_raises(spark):
    """Silent non-convergence would return half-merged clusters; the
    operator must refuse instead (VERDICT r1 'what's wrong' #3)."""
    import pytest

    from sqlmesh_spark.llm.cluster import connected_components

    edges = spark.createDataFrame([(i, i + 1) for i in range(200)], "d1 int, d2 int")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=1)


def test_embedding_lsh_wide_matches_narrow(spark, sf_dir):
    """The production sign-LSH pipeline (Arrow bands, ZIP_WITH verify) must
    be value-identical to the explode-based narrow formulation (same
    planes, same scaled-int sums) — the same guarantee test_minhash
    upholds for the text ladder."""
    from sqlmesh_spark.llm.dedup import embedding_lsh_pairs_sql, sign_lsh_pairs

    wide = [tuple(r) for r in sign_lsh_pairs(spark, sf_dir, "t_emb").collect()]
    narrow = [
        tuple(r)
        for r in spark.sql(embedding_lsh_pairs_sql("embeddings", dialect="spark")).collect()
    ]
    assert narrow == wide
    assert len(wide) == 20


def test_embedding_lsh_subset_of_exact(spark, sf_dir):
    """Every LSH candidate pair's cosine is exact, so the LSH top-N must be
    a subset of the exact all-pairs ranking's ordering: any pair the LSH
    form surfaces must score identically in the exact form."""
    from sqlmesh_spark.llm.dedup import embedding_topn_zipwith_sql, sign_lsh_pairs

    lsh = sign_lsh_pairs(spark, sf_dir, "t_emb").collect()
    exact = {
        (r.v1, r.v2): r.cosine
        for r in spark.sql(embedding_topn_zipwith_sql("embeddings", top_n=500)).collect()
    }
    for r in lsh:
        if (r.v1, r.v2) in exact:
            assert exact[(r.v1, r.v2)] == r.cosine


def test_ngram_jaccard_stop_shingle_cap(spark):
    """A boilerplate shingle shared by every document must not fan out into
    candidate pairs when the cap is active: two docs whose ONLY overlap is
    boilerplate pair up without the cap but not with it."""
    from sqlmesh_spark.llm.dedup import ngram_jaccard_sql

    boiler = "same header everywhere"
    # bodies are runs of one distinct letter — zero cross-doc body shingles
    rows = [(i, boiler + " " + chr(97 + i) * 30) for i in range(12)]
    spark.createDataFrame(rows, "doc_id int, text string").createOrReplaceTempView(
        "cap_docs"
    )
    uncapped = spark.sql(
        ngram_jaccard_sql("cap_docs", threshold=0.2, dialect="spark")
    ).collect()
    capped = spark.sql(
        ngram_jaccard_sql("cap_docs", threshold=0.2, dialect="spark", max_df=6)
    ).collect()
    assert len(uncapped) > 0  # boilerplate overlap alone pairs docs up
    assert len(capped) == 0  # capped: boilerplate carries no signal


def test_duckdb_oracles_use_global_regex_flag():
    # DuckDB's 3-arg regexp_replace replaces only the FIRST match; Spark
    # replaces all. Every normalization oracle must carry the 'g' flag —
    # the sf test corpus has no multi-hit docs, so parity alone cannot
    # catch a regression here.
    import duckdb

    from sqlmesh_spark.llm.dedup import exact_dedup_sql, incremental_dedup_sql
    from sqlmesh_spark.llm.text import _norm, fingerprint_sql

    for sql in (
        exact_dedup_sql("t", "duckdb"),
        incremental_dedup_sql("t", "duckdb"),
        fingerprint_sql("t", "duckdb"),
    ):
        assert "'g'" in sql
    got = duckdb.sql("SELECT " + _norm("'a  b!!c  d'", "duckdb")).fetchone()[0]
    assert got == "a bc d"


def test_embedding_lsh_arrow_bands_bit_identical(spark, sf_dir):
    """The Arrow int64-matmul bands producer must emit EXACTLY the
    ``sig`` rows the oracle derives (same scaled-int rounding, same
    md5-derived ±1 planes, int64 sums order-insensitive) — the oracle
    parity of every sign-LSH case rests on identical band keys. The
    corpus is extended with vectors whose scaled elements sit exactly
    on .5 (0.0078125·1e6 = 7812.5) and cancel to a projection of ±1, so
    a half-even rounding flips their sign bits."""
    from sqlmesh_spark.llm.dedup import embedding_lsh_bands_arrow, embedding_lsh_sig_sql
    from sqlmesh_spark.sources.tables import register_views

    register_views(spark, sf_dir, ("embeddings",))
    half, near = 0.0078125, -0.007812
    ties = [
        (10_000_000 + j, [0.0] * j + [half, near] + [0.0] * (62 - j))
        for j in range(63)
    ]
    spark.createDataFrame(ties, "vec_id bigint, embedding array<float>").unionByName(
        spark.table("embeddings").select("vec_id", "embedding")
    ).createOrReplaceTempView("bands_corpus")
    for n_planes, band_size in ((16, 4), (64, 16)):
        ref = spark.sql(
            f"WITH {embedding_lsh_sig_sql('bands_corpus', n_planes, band_size)}\n"
            "SELECT vec_id, band, bkey FROM sig"
        )
        arrow_b = embedding_lsh_bands_arrow(
            spark, "bands_corpus", n_planes=n_planes, band_size=band_size
        )
        assert ref.exceptAll(arrow_b).count() == 0
        assert arrow_b.exceptAll(ref).count() == 0
        assert arrow_b.count() == ref.count() > 0

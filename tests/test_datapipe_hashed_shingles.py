"""The xxhash64(shingle) production path (the DEFAULT) must be a pure
representation swap: identical survivors, doc-frequencies, and
shared-ngram counts to the string form on the fixtures (VERDICT round 5
item 4 / round 7 item 4).  The string form (``hash_shingles=False``) is
what the cross-engine DuckDB oracle restates; the hashed form is what a
100 TB run ships, cutting the shingle shuffle to 8-byte keys."""

from __future__ import annotations

from open_source_etl_spark.operators.datapipe_queries import (
    datapipe_boilerplate_prune,
    datapipe_contamination_ngram,
)

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_boilerplate_prune_hashed_matches_string(spark):
    string = _rows(datapipe_boilerplate_prune(spark, SF, hash_shingles=False))
    hashed = _rows(datapipe_boilerplate_prune(spark, SF, hash_shingles=True))
    assert hashed == string
    # the fixture actually exercises both branches of the keep decision
    keeps = {r[3] for r in string}
    assert keeps == {True, False}


def test_contamination_ngram_hashed_matches_string(spark):
    string = _rows(datapipe_contamination_ngram(spark, SF, hash_shingles=False))
    hashed = _rows(datapipe_contamination_ngram(spark, SF, hash_shingles=True))
    assert hashed == string
    assert string, "fixture must produce contaminated docs"


def test_hashed_shingle_plan_carries_no_strings(spark):
    """The hashed plan's exchanges must not carry the text column: after
    the shingle projection, every shuffled key is the bigint hash.
    boilerplate_prune's projection moved into an Arrow kernel in round
    15 (the interpreted transform() lambda never reached codegen), so
    its guard is the MapInPandas node emitting a bigint hash column —
    no string shingle survives past the kernel.  contamination_ngram
    still hashes in the JVM (xxhash64)."""
    df = datapipe_boilerplate_prune(spark, SF, hash_shingles=True)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "pythonUDF" in plan or "MapInPandas" in plan
    # the shingle column leaving the kernel (and every downstream
    # aggregate/join key) is the 64-bit hash, not a string
    assert "s#" in plan and "substring" not in plan.lower()
    df2 = datapipe_contamination_ngram(spark, SF, hash_shingles=True)
    plan2 = df2._jdf.queryExecution().optimizedPlan().toString()
    assert "xxhash64" in plan2


def test_boilerplate_prune_skips_null_text_and_length(spark, tmp_path):
    """NULL ``text`` or ``n_chars`` yields no shingles in the Arrow
    kernel, the string form and the DuckDB oracle alike: such a doc
    keeps with zero counts instead of failing the kernel."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from open_source_etl_spark.registry import all_oracles

    docs = pq.read_table(f"{SF}/documents.parquet").to_pandas()
    docs["text"] = docs["text"].astype(object)
    docs["n_chars"] = docs["n_chars"].astype("Int64")
    docs.loc[docs.index[:5], "text"] = None
    docs.loc[docs.index[5:10], "n_chars"] = None
    null_ids = set(docs["doc_id"].iloc[:10])
    pq.write_table(pa.Table.from_pandas(docs, preserve_index=False),
                   tmp_path / "documents.parquet")
    sf = str(tmp_path)

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf}/documents.parquet')"
    )
    oracle = sorted(
        tuple(r) for r in con.execute(all_oracles()["datapipe_boilerplate_prune"]).fetchall()
    )
    hashed = _rows(datapipe_boilerplate_prune(spark, sf, hash_shingles=True))
    string = _rows(datapipe_boilerplate_prune(spark, sf, hash_shingles=False))
    assert hashed == oracle
    assert string == oracle
    nulls = [r for r in hashed if r[0] in null_ids]
    assert len(nulls) == 10 and all(r[1:] == (0, 0, True) for r in nulls)

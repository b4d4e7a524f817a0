package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{CurationQueries, DedupQueries, EventQueries, FunctionQueries, LexicalQueries, RefParityQueries, SimilarityQueries, TextQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator from SURVEY.md §2 (and the extension set) registers at
  * least one named query here; each query with SQL-expressible semantics also
  * registers DuckDB oracle SQL with IDENTICAL column names/types and a total
  * ORDER BY (unique tie-break key) so the driver's hash compare is
  * deterministic. Queries are contributed by per-area registries under
  * [[graft.queries]].
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_movierank")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2 (+ extensions). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    RefParityQueries.queries ++ TextQueries.queries ++ DedupQueries.queries ++
      SimilarityQueries.queries ++ EventQueries.queries ++
      FunctionQueries.queries ++ CurationQueries.queries ++
      LexicalQueries.queries

  /** Queries whose REGISTERED form exists for DuckDB-oracle parity or as a
    * demoted verification twin — NOT the at-scale path. Machine-readable so
    * a scale run can exclude them DELIBERATELY instead of discovering their
    * super-linear shape by accident (BASELINE.md round-7 scaling:
    * dedup_simhash_pairs 34×, dedup_minhash_lsh 14× at 10× rows — by
    * design, their 48-bit md5 bases exist solely so DuckDB can replay the
    * full pipeline). Bench surfaces this set in BENCH_SELF.json
    * (`oracle_parity_only`) and an excluded total in the headline
    * (`value_at_scale`); `SPARK_GRAFT_SKIP_PARITY_ONLY=1` drops them from
    * the run. Every entry has a registered at-scale twin covering the same
    * semantics. */
  def oracleParityOnly: Set[String] = Set(
    // md5-48 token-hash basis (8-bit SimHash bands → ~n²/256 candidate
    // growth); at-scale twins: dedup_simhash_xxhash, dedup_simhash128_pairs
    "dedup_simhash_pairs",
    // md5-48 MinHash basis; at-scale twin: dedup_minhash_xxhash
    "dedup_minhash_lsh",
    // Complete-mode output keeps all pair state forever; at-scale twin:
    // stream_docs_neardup_banded (watermarked Append aggregate)
    "stream_docs_neardup_pairs",
    // Exact set-algebra ride-alongs (a distinct-hash self-join over the
    // FULL token table — the computation the theta sketch exists to avoid;
    // round-16 verdict item 2); at-scale twins:
    // sketch_kmv_intersect_scale / sketch_kmv_diff_scale (sketch build +
    // metadata pair join only)
    "sketch_kmv_intersect", "sketch_kmv_diff")

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on the
    * same parquet tables. Omitted keys (non-SQL-expressible ops — seeded
    * xxhash64 MinHash/SimHash/LSH, the fake-decode stub) get the driver's
    * weaker rows-only check and a scalatest spec instead. */
  def oracleSql: Map[String, String] =
    RefParityQueries.oracles ++ TextQueries.oracles ++ DedupQueries.oracles ++
      SimilarityQueries.oracles ++ EventQueries.oracles ++
      FunctionQueries.oracles ++ CurationQueries.oracles ++
      LexicalQueries.oracles
}

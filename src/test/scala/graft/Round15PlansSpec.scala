package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan pins for the round-15 additions (the Round8/9/14PlansSpec
  * discipline): scale claims that are PLAN properties get asserted on the
  * executed plan string so refactors fail the suite, not the bench. */
class Round15PlansSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val dir = "/root/testdata/sf0.001"

  private def executed(name: String): org.apache.spark.sql.DataFrame = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.collect() // AQE finalizes at execution
    df
  }
  private def plan(name: String): String =
    executed(name).queryExecution.executedPlan.toString

  test("sim_semantic_screen_indexed plan: probes the STORED index — cell equi-join over the index scan, never an NLJ") {
    val p = plan("sim_semantic_screen_indexed")
    // the corpus side must come from the stored index artifact, not a
    // re-derived in-memory frame
    assert(p.contains("graft_ivf_") && p.contains("corpus"),
      s"corpus side must scan the stored IVF index:\n$p")
    // candidate generation is an equi-join on the probed cell id — the
    // whole point vs the brute-force broadcast NLJ baseline
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"indexed screen must not degenerate to the NLJ baseline:\n$p")
    assert(p.contains("cell"),
      s"join keys must include the probed cell id:\n$p")
  }

  test("sim_semantic_screen_indexed ≡ the brute-force screen restricted to the same arrivals (recall is cell-bounded, precision exact)") {
    import org.apache.spark.sql.functions._
    val emb = graft.engine.Sources.embeddings(spark, dir)
    val arrivals = emb.where(col("vec_id") % 5 === 4)
    val indexed = executed("sim_semantic_screen_indexed")
      .select(col("a_id"), col("c_id"), col("cosine"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // brute force over the same (arrival, corpus) universe; drop self pairs
    val brute = graft.operators.Similarity.semanticScreen(
        emb, arrivals, "vec_id", "embedding",
        graft.queries.SimilarityQueries.CosineThreshold)
      .where(col("vec_id") =!= col("eval_id"))
      .select(col("eval_id").as("a_id"), col("vec_id").as("c_id"),
        col("cosine"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // PRECISION: everything the index emits, brute force confirms
    assert(indexed.subsetOf(brute),
      s"indexed screen emitted pairs brute force rejects: ${indexed -- brute}")
    // RECALL on this corpus: nProbe=4 of 16 cells must catch the large
    // majority of true hits (approximate by design; the recall floor keeps
    // the query honest without pinning an exact approximate set)
    assert(brute.isEmpty || indexed.size >= (brute.size * 7) / 10,
      s"recall too low: ${indexed.size}/${brute.size}")
  }

  test("corpus_snapshot_read plan: the scan's file set IS the committed manifest — nothing more, nothing less") {
    import org.apache.spark.sql.functions._
    def norm(u: String): String = new java.net.URI(u).getPath
    val df = SparkEntry.queries("corpus_snapshot_read")(spark, dir)
    val t = graft.queries.CurationQueries.snapshotTableDir(spark, dir)
    val cur = graft.operators.Snapshot.currentSnapshotId(spark, t).get
    val manifest = graft.operators.Snapshot.readManifest(spark, t, cur)
      .select(col("file")).collect().map(r => norm(r.getString(0))).toSet
    val scanned = df.inputFiles.map(norm)
      .filterNot(_.contains("/manifests/")).toSet
    assert(scanned == manifest,
      s"scan ≠ manifest:\n only-scan: ${scanned -- manifest}\n only-manifest: ${manifest -- scanned}")
    // the planted failures exist on disk but never in the scan
    assert(new java.io.File(s"$t/data/c=99999").isDirectory &&
      new java.io.File(s"$t/manifests/snap=3").isDirectory,
      "the adversarial plants must exist for this pin to mean anything")
    assert(!scanned.exists(_.contains("c=99999")),
      "orphan data files leaked into the read")
    assert(cur == 2L, s"torn snapshot 3 must not be current, got $cur")
  }

  test("sketch_kmv_distinct plan: the sketch aggregate combines map-side (bounded partial), never a collect-then-sort") {
    val p = plan("sketch_kmv_distinct")
    // the typed KMV aggregator must run as a two-phase object hash
    // aggregate — partial buffers (≤ k longs each) are what cross the
    // shuffle, the whole point of the bounded-buffer design
    assert(p.contains("ObjectHashAggregate") &&
      p.toLowerCase.contains("partial_kmvaggregator"),
      s"KMV must partial-aggregate map-side:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian anywhere:\n$p")
  }

  test("sample_target_coverage plan: profile is TakeOrdered (never a global sort) and joins by broadcast") {
    val p = plan("sample_target_coverage")
    // the top-K feature profile must come from a bounded TakeOrdered, not
    // a full Sort of the feature table
    assert(p.contains("TakeOrderedAndProject"),
      s"profile cut must be TakeOrdered:\n$p")
    // the bounded profile broadcasts onto the candidate feature stream
    assert(p.contains("BroadcastHashJoin"),
      s"profile join must broadcast:\n$p")
  }

  test("stream_snapshot_commits: the stream-built table's read resolves ONLY the committed manifest; plants stay on disk, never in the scan") {
    import org.apache.spark.sql.functions._
    def norm(u: String): String = new java.net.URI(u).getPath
    val df = SparkEntry.queries("stream_snapshot_commits")(spark, dir)
    df.collect()
    val t = graft.queries.Artifacts.path("snapstream", dir) + "/table"
    assert(new java.io.File(s"$t/data/c=99999").isDirectory &&
      new java.io.File(s"$t/manifests/snap=99998").isDirectory,
      "the adversarial plants must exist for this pin to mean anything")
    val cur = graft.operators.Snapshot.currentSnapshotId(spark, t).get
    assert(cur == 1L, s"current snapshot must be the last micro-batch, got $cur")
    val manifest = graft.operators.Snapshot.readManifest(spark, t, cur)
      .select(col("file")).collect().map(r => norm(r.getString(0))).toSet
    val scanned = df.inputFiles.map(norm)
      .filterNot(_.contains("/manifests/")).toSet
    assert(scanned == manifest,
      s"scan ≠ manifest:\n only-scan: ${scanned -- manifest}\n only-manifest: ${manifest -- scanned}")
    assert(!scanned.exists(p => p.contains("c=99999") || p.contains("c=99998")),
      "planted orphan/torn data leaked into the stream table read")
  }
}

package moviebench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.engine.{MovieAnalysis, Sources, Tuning}
import graft.operators.Snapshot

/** Drives one benchmark workload through the engine's public API with one
  * client in a closed loop: each call is issued after the previous one
  * returns. It writes what it measured as one JSON object to `--result`;
  * run.py generates the inputs, launches this program, checks every output
  * it names and turns the samples into metrics.
  *
  * Arguments (all required):
  *   --workload paper_csv | incremental_snapshot
  *   --movies FILE     movies.csv
  *   --ratings FILE    text file naming the ratings CSV files, one a line
  *                     (one file, or the batches of incremental_snapshot)
  *   --warmup FILE     a small ratings CSV the set-up warms the engine up on
  *   --initial N       batches committed during set-up (incremental_snapshot)
  *   --work DIR        scratch directory for set-up artifacts and outputs
  *   --seconds S       measuring time of an untraced run
  *   --trace 0|1       1: alternate untraced and traced ops, `--pairs` times
  *   --pairs N         traced runs: number of (untraced, traced) op pairs
  *   --cores K         Spark runs local[K] with K shuffle partitions
  *   --setups N        set-up is repeated N times; the last one is measured
  *   --result FILE
  */
object Harness {

  final case class Conf(workload: String, movies: String, ratings: Seq[String],
                        warmup: String, initial: Int, work: File, seconds: Double, trace: Boolean,
                        pairs: Int, cores: Int, setups: Int, result: File)

  def parse(args: Array[String]): Conf = {
    require(args.length % 2 == 0, "arguments come in --name value pairs")
    val m = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val src = scala.io.Source.fromFile(m("ratings"))
    val ratings = try src.getLines().filter(_.nonEmpty).toVector finally src.close()
    Conf(m("workload"), m("movies"), ratings, m("warmup"), m("initial").toInt, new File(m("work")),
      m("seconds").toDouble, m("trace") == "1", m("pairs").toInt, m("cores").toInt,
      m("setups").toInt, new File(m("result")))
  }

  private def secondsOf[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = f
    (out, (System.nanoTime() - t0) / 1e9)
  }

  /** The reference's tab-text sink. */
  private def sink(df: DataFrame, dir: File): Unit =
    df.write.option("sep", "\t").csv(dir.getPath)

  /** One op's samples: call times in seconds, the outputs to check, the
    * number of ratings files they cover (0: the one file) and, on traced
    * ops, the buckets of the pipeline calls (`query`) and of the calls
    * before them (`other`), with the op's own layer numbers. */
  final case class Op(times: Map[String, Double], outputs: Map[String, String], batches: Int,
                      query: Seq[Bucket] = Nil, other: Seq[Bucket] = Nil,
                      layers: Map[String, Double] = Map.empty)

  /** A workload: what set-up builds, and what one op does. `tracer` is null
    * on untraced ops. */
  abstract class Workload(val c: Conf) {
    /** Work done once per set-up after the session starts (the initial
      * commits), before the warm-up. */
    def prepare(spark: SparkSession, rep: Int): Unit = ()
    def ratings(spark: SparkSession): DataFrame
    def warmUpRatings(spark: SparkSession): DataFrame
    def movies(spark: SparkSession): DataFrame = Sources.moviesCsv(spark, c.movies)
    /** What the isolated scan of op `i` reads through Sources. */
    def scanInput(spark: SparkSession, i: Int): DataFrame = ratings(spark)
    def maxOps: Int = Int.MaxValue
    /** Both pipelines over the small warm-up input, so that set-up leaves
      * the code JIT-compiled and the session's lazy state built. */
    def warmUp(spark: SparkSession, dir: File): Unit = {
      sink(MovieAnalysis.movieRank(movies(spark), warmUpRatings(spark)), new File(dir, "rank"))
      sink(MovieAnalysis.movieRating(movies(spark), warmUpRatings(spark)), new File(dir, "rating"))
    }
    /** Runs op `i`, writing its outputs under `dir`. */
    def op(spark: SparkSession, i: Int, dir: File, tracer: Tracer): Op =
      pipelines(spark, dir, tracer, ratings(spark), Op(Map.empty, Map.empty, 0))

    /** MovieRank then MovieRating over `facts`, each into the tab sink,
      * added to what the op did `before`. */
    protected def pipelines(spark: SparkSession, dir: File, tracer: Tracer,
                            facts: => DataFrame, before: Op): Op = {
      var planningMs = 0.0
      def run(name: String, build: (DataFrame, DataFrame) => DataFrame): (Double, Option[Bucket]) = {
        val out = new File(dir, name)
        if (tracer == null) {
          val (_, s) = secondsOf(sink(build(movies(spark), facts), out))
          (s, None)
        } else {
          val (_, b) = tracer.call(name) {
            val df = build(movies(spark), facts)
            planningMs += Layers.planMs(df)
            sink(df, out)
          }
          (b.wallS, Some(b))
        }
      }
      val (rankS, rankB) = run("rank", MovieAnalysis.movieRank(_, _))
      val (ratingS, ratingB) = run("rating", MovieAnalysis.movieRating(_, _))
      before.copy(
        times = before.times ++ Map("movierank_s" -> rankS, "movierating_s" -> ratingS),
        outputs = Map("rank" -> new File(dir, "rank").getPath,
          "rating" -> new File(dir, "rating").getPath),
        query = rankB.toSeq ++ ratingB,
        layers = before.layers ++ (if (tracer == null) Nil else Seq("planning.ms" -> planningMs)))
    }
  }

  final class PaperCsv(c: Conf) extends Workload(c) {
    def ratings(spark: SparkSession): DataFrame = Sources.ratingsCsv(spark, c.ratings.head)
    def warmUpRatings(spark: SparkSession): DataFrame = Sources.ratingsCsv(spark, c.warmup)
  }

  /** Ratings arrive in CSV batches: each op appends one batch to a snapshot
    * table, then runs both pipelines over the table's current snapshot.
    * Set-up commits the first `initial` batches. */
  final class IncrementalSnapshot(c: Conf) extends Workload(c) {
    private var table: String = _
    override def prepare(spark: SparkSession, rep: Int): Unit = {
      table = new File(c.work, s"snapshot-$rep").getPath
      c.ratings.take(c.initial).foreach(f =>
        Snapshot.commitAppend(spark, table, Sources.ratingsCsv(spark, f)))
    }
    def ratings(spark: SparkSession): DataFrame = Snapshot.read(spark, table)
    def warmUpRatings(spark: SparkSession): DataFrame = ratings(spark)
    override def scanInput(spark: SparkSession, i: Int): DataFrame =
      Sources.ratingsCsv(spark, c.ratings(c.initial + i))
    override def maxOps: Int = c.ratings.size - c.initial

    override def op(spark: SparkSession, i: Int, dir: File, tracer: Tracer): Op = {
      val batch = c.ratings(c.initial + i)
      val retries0 = Snapshot.commitRetriesTotal
      def call[T](name: String)(f: => T): (T, Double, Option[Bucket]) =
        if (tracer == null) { val (v, s) = secondsOf(f); (v, s, None) }
        else { val (v, b) = tracer.call(name)(f); (v, b.wallS, Some(b)) }
      val (_, commitS, commitB) = call("commit")(
        Snapshot.commitAppend(spark, table, Sources.ratingsCsv(spark, batch)))
      val (facts, readS, readB) = call("read")(Snapshot.read(spark, table))
      val snapshot = if (tracer == null) Map.empty[String, Double] else Map(
        "snapshot.commit_s" -> commitS,
        "snapshot.read_s" -> readS,
        "snapshot.jobs_per_commit" -> commitB.get.jobs.toDouble,
        "snapshot.jobs_per_read" -> readB.get.jobs.toDouble,
        "snapshot.files_per_read" -> facts.inputFiles.length.toDouble,
        "snapshot.commit_retries" -> (Snapshot.commitRetriesTotal - retries0).toDouble)
      pipelines(spark, dir, tracer, facts, Op(Map("commit_s" -> commitS, "read_s" -> readS),
        Map.empty, c.initial + i + 1, other = commitB.toSeq ++ readB, layers = snapshot))
    }
  }

  def session(c: Conf): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${c.cores}]")
      .appName("moviebench")
      .config("spark.local.dir", new File(c.work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(c.work, "warehouse").getPath)
      .getOrCreate()
    Tuning.tune(spark)
    spark.conf.set("spark.sql.shuffle.partitions", c.cores.toString)
    spark
  }

  def main(args: Array[String]): Unit = {
    val c = parse(args)
    val w: Workload = c.workload match {
      case "paper_csv" => new PaperCsv(c)
      case "incremental_snapshot" => new IncrementalSnapshot(c)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (rep <- 0 until c.setups) {
      if (spark != null) spark.stop()
      val (s, t) = secondsOf {
        val s = session(c)
        w.prepare(s, rep)
        w.warmUp(s, new File(c.work, s"warmup-$rep"))
        s
      }
      spark = s
      setupS += t
    }

    val out = new File(c.work, "out")
    val ops = mutable.ArrayBuffer.empty[(Op, Boolean)]
    val heapMb = mutable.ArrayBuffer.empty[Double]
    val tracer = new Tracer(spark)
    def step(traced: Boolean): Unit = {
      val i = ops.size
      val dir = new File(out, f"op-$i%05d")
      val op = if (!traced) {
        val (op, opS) = secondsOf(w.op(spark, i, dir, null))
        op.copy(times = op.times + ("op_s" -> opS))
      } else {
        tracer.attach()
        try {
          val gc0 = Host.gcMs; val jit0 = Host.jitMs; val steal0 = Host.stealS
          val op = w.op(spark, i, dir, tracer)
          val host = Map(
            "jvm.gc_s" -> (Host.gcMs - gc0) / 1000.0,
            "jvm.jit_s" -> (Host.jitMs - jit0) / 1000.0,
            "host.steal_s" -> (Host.stealS - steal0))
          val (_, scan) = tracer.call("scan") {
            w.scanInput(spark, i).select("movieId", "rating")
              .write.format("noop").mode("overwrite").save()
          }
          // A traced op's time is the sum of its calls: the bus drains
          // between them are the tracer's, not the engine's.
          op.copy(times = op.times + ("op_s" -> op.times.values.sum),
            layers = Layers.of(op.query, op.other, scan) ++ op.layers ++ host)
        } finally tracer.detach()
      }
      ops += ((op, traced))
      heapMb += Host.liveHeapMb()
    }
    val t0 = System.nanoTime()
    if (c.trace) {
      for (_ <- 0 until c.pairs if ops.size + 2 <= w.maxOps) { step(false); step(true) }
    } else {
      do step(false)
      while ((System.nanoTime() - t0) / 1e9 < c.seconds && ops.size < w.maxOps)
    }
    val measuredS = (System.nanoTime() - t0) / 1e9
    spark.stop()

    val rt = ManagementFactory.getRuntimeMXBean
    val result = Map(
      "workload" -> c.workload,
      "setup_s" -> setupS.toSeq,
      "measured_s" -> measuredS,
      "peak_heap_mb" -> heapMb.max,
      "ops" -> ops.toSeq.map { case (op, traced) =>
        Map("times" -> op.times, "outputs" -> op.outputs, "batches" -> op.batches,
          "traced" -> traced, "layers" -> op.layers)
      },
      "jvm" -> Map(
        "spark" -> org.apache.spark.SPARK_VERSION,
        "scala" -> scala.util.Properties.versionNumberString,
        "jdk" -> System.getProperty("java.runtime.version"),
        "flags" -> rt.getInputArguments.asScala.toSeq,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "cores" -> c.cores))
    val pw = new PrintWriter(c.result, "UTF-8")
    try pw.println(Json(result)) finally pw.close()
  }
}

/** Minimal JSON writer for the result object (maps, sequences, numbers,
  * strings, booleans). */
object Json {
  def apply(v: Any): String = v match {
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case s: String => quote(s)
    case other => quote(String.valueOf(other))
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case ch if ch < ' ' => sb.append(f"\\u${ch.toInt}%04x")
      case ch => sb.append(ch)
    }
    sb.append('"').toString
  }
}

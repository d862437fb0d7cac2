package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import graft.{Pipeline, SparkEntry}
import graft.store.GraphStore

/** The benchmark's JVM entry point. One invocation is one run of one
  * workload on an input `run.py` has generated: it starts a Spark session,
  * then either measures the end-to-end metrics (`--trace 0`) or produces
  * the per-layer metrics from a traced run (`--trace 1`), checks every
  * output against the pinned values, and prints one JSON result line last. */
object Main {

  /** The 15 headline operator queries of `graft.Bench`, in its order. */
  val headline: Seq[String] = Seq(
    "q_triples", "q_mentions", "q_cc", "q_merge_edges", "q_pair_dedup",
    "q_top1_per_group", "q_set_union", "q_dedup_exact", "q_ngram_jaccard",
    "q_minhash_neardup", "q_knn_cosine", "q_knn_lsh", "q_knn_ivf",
    "q_doc_stats", "q_events_hourly")

  final case class Opts(workload: String, mult: Int, seed: Long, seconds: Double,
                        trace: Boolean, cores: Int, input: String, genS: Double,
                        work: Path)

  private def parse(args: Array[String]): Opts = {
    val kv = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("mult").toInt, need("seed").toLong,
      need("seconds").toDouble, need("trace") == "1", need("cores").toInt,
      need("input"), need("gen-s").toDouble, Paths.get(need("work")))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def secsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

  /** Progress line on stderr, stamped with the seconds since JVM start. */
  def log(msg: String): Unit = System.err.println(
    f"[perfbench] ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%7.2fs $msg")

  /** CPU time this JVM has used so far, all threads, in seconds. */
  def processCpuS(): Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Process high-water resident set, in MB (Linux). */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(0.0)
    finally src.close()
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val o = parse(args)
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3 + o.genS
    log(f"set up ${setupS}%.2fs (input generation ${o.genS}%.3fs)")

    val h = new Harness(spark, o)
    val metrics =
      if (o.trace) Traced.run(h) :+ (("host.peak_rss_mb", peakRssMb(), "MB"))
      else measure(h) :+ (("setup_s", setupS, "s"))
    Store.delete(h.storeDir)
    spark.stop()
    log("done")
    val ms = metrics.map { case (k, v, u) =>
      "\"" + k + "\":{\"value\":" + v + ",\"unit\":\"" + u + "\"}" }
    println(s"""{"correct":${h.check.failed == 0},"attempted":${h.check.attempted},""" +
      s""""failed":${h.check.failed},"metrics":{${ms.mkString(",")}}}""")
  }

  /** The untraced measurement, in the order a user meets it: the first
    * build of a fresh JVM into a fresh store, two no-op resumes of it, and
    * one pass of the operator queries. If that takes less than `seconds`,
    * further resume and operator passes run until it does; each metric is
    * the median of its samples. */
  private def measure(h: Harness): Seq[(String, Double, String)] = {
    val t0 = System.nanoTime()
    val base = h.freshStore()
    val cpu0 = processCpuS()
    val (r, buildS) = h.build(base)
    val buildCpuS = processCpuS() - cpu0
    log(f"build $buildS%.2fs")
    val storeMb = Store.bytes(base) / 1e6
    h.checkBuild(r, base)
    val snaps = Pipeline.Stages.map(GraphStore.latestSnapshot(base, _))
    val resumes, ops = scala.collection.mutable.ArrayBuffer.empty[Double]
    do {
      (0 until 2).foreach { _ =>
        val (rr, rs) = h.build(base)
        resumes += rs
        h.check.value("edges", rr.nTriples.toString)
        h.check.value("nodes", rr.nNodes.toString)
        // a resume of a committed store recomputes nothing
        h.check.value("resume_snapshots",
          if (Pipeline.Stages.map(GraphStore.latestSnapshot(base, _)) == snaps) "unchanged"
          else "changed")
      }
      ops += h.opsPass(None)
      log(f"resumes ${resumes.takeRight(2).map(x => f"$x%.2f").mkString(", ")}s, " +
        f"operator pass ${ops.last}%.2fs")
    } while (secsSince(t0) < h.o.seconds)
    Store.delete(Paths.get(base))
    Seq(
      ("build_s", buildS, "s"),
      ("build_cpu_s", buildCpuS, "s"),
      ("triples_per_s", r.nTriples / buildS, "1/s"),
      ("resume_s", median(resumes.toSeq), "s"),
      ("operators_s", median(ops.toSeq), "s"),
      ("store_mb", storeMb, "MB"))
  }
}

/** The calls a run makes into graft, with their output checks. */
final class Harness(val spark: SparkSession, val o: Main.Opts) {
  val check = new Checker(o.workload)
  val storeDir: Path = Files.createDirectories(o.work.resolve("stores"))
  private var stores = 0

  def freshStore(): String = {
    stores += 1
    storeDir.resolve(s"store_$stores").toString
  }

  /** One `Pipeline.run` of the workload into `base`, and its wall time. */
  def build(base: String): (Pipeline.Result, Double) = {
    val t0 = System.nanoTime()
    val r = Pipeline.run(spark, o.input, base, partitions = o.cores, mult = o.mult)
    (r, Main.secsSince(t0))
  }

  def checkBuild(r: Pipeline.Result, base: String): Unit = {
    check.value("pages", r.nPages.toString)
    check.value("edges", r.nTriples.toString)
    check.value("nodes", r.nNodes.toString)
    check.value("audit_mismatches", r.auditMismatches.toString)
    check.value("edges_hash", OutputHash.of(GraphStore.readLatest(spark, base, "edges").get))
    check.value("nodes_hash", OutputHash.of(GraphStore.readLatest(spark, base, "nodes").get))
  }

  /** One serial pass over the headline queries, each forced by its content
    * hash and checked; returns the pass's wall time. With a recorder, each
    * query runs in its own span. */
  def opsPass(rec: Option[SpanRecorder]): Double = Main.headline.map { q =>
    val t0 = System.nanoTime()
    def run() = OutputHash.of(SparkEntry.queries(q)(spark, o.input))
    val hash = rec.fold(run())(_(s"op.$q")(run()))
    val s = Main.secsSince(t0)
    check.value(s"op.$q", hash)
    s
  }.sum
}

/** Compares each output against its expected value. A mismatch is
  * counted as a failed operation; nothing is retried. */
final class Checker(workload: String) {
  var attempted = 0L
  var failed = 0L
  private val pins = Pins.values.getOrElse(workload, Map.empty)

  /** Checks an output against its pinned value. */
  def value(key: String, got: String): Unit = expect(key, got, pins.get(key))

  /** Checks that two computations of one output agree. */
  def equal(key: String, got: String, want: String): Unit = expect(key, got, Some(want))

  private def expect(key: String, got: String, want: Option[String]): Unit = {
    attempted += 1
    if (!want.contains(got)) {
      failed += 1
      System.err.println(s"[perfbench] WRONG OUTPUT $workload/$key: got $got, " +
        s"expected ${want.getOrElse("<no pin>")}")
    }
  }
}

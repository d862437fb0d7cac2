package graftbench

import java.nio.file.Files
import graft.Pipeline
import graft.store.GraphStore

/** The traced run: per-layer metrics. Its first build is traced as the
  * untraced run's measured build is timed (the first `Pipeline.run` of a
  * fresh JVM), with the benchmark's listener seeing every job and task;
  * then come the store calls a resume makes, the layer-by-layer replay,
  * and an operator pass with one span per query. */
object Traced {

  def run(h: Harness): Seq[(String, Double, String)] = {
    val o = h.o
    val sc = h.spark.sparkContext

    // The traced build: the listener sees every job and task of it.
    val engine = new EngineListener
    val pipeBase = h.freshStore()
    graft.metrics.TaskCounters.drain(sc)
    sc.addSparkListener(engine)
    val gc0 = EngineListener.gcSeconds()
    val rec = new SpanRecorder
    val t0 = rec.nowMs
    val (pr, tracedS) = h.build(pipeBase)
    val t1 = rec.nowMs
    val gcS = EngineListener.gcSeconds() - gc0
    graft.metrics.TaskCounters.drain(sc)
    sc.removeSparkListener(engine)
    Main.log(f"traced build $tracedS%.2fs")
    h.checkBuild(pr, pipeBase)
    val engineMetrics = EngineListener.summary(engine, t0, t1, o.cores, gcS)

    // The store calls a resume makes, against the traced build's store.
    rec("store.validate")(Pipeline.Stages.foreach(GraphStore.committedFingerprint(pipeBase, _)))
    rec("store.read")(Pipeline.Stages.foreach(s =>
      GraphStore.readLatest(h.spark, pipeBase, s).foreach(_.count())))
    rec("store.expire")(Pipeline.Stages.foreach(GraphStore.expireSnapshots(pipeBase, _, 1)))

    // Layer replay and operator pass, attributed by span.
    val layers = new EngineListener
    graft.metrics.TaskCounters.drain(sc)
    sc.addSparkListener(layers)
    val replayBase = h.freshStore()
    val rr = Replay.run(h.spark, o.input, replayBase, o.cores, o.mult, rec)
    Main.log("replay done")
    h.opsPass(Some(rec))
    Main.log("operator pass done")
    graft.metrics.TaskCounters.drain(sc)
    sc.removeSparkListener(layers)

    // The replay must rebuild the program's stage graph: every stage it
    // commits has the row count of the traced build's, and its nodes and
    // edges have the pinned content.
    h.check.value("pages", rr.counts("extract.pages").toString)
    h.check.value("audit_mismatches", rr.counts("extract.audit_mismatches").toString)
    def rows(base: String, stage: String) =
      GraphStore.readLatest(h.spark, base, stage).fold("<none>")(_.count().toString)
    Pipeline.Stages.foreach(s =>
      h.check.equal(s"replay.$s.rows", rows(replayBase, s), rows(pipeBase, s)))
    Seq("edges", "nodes").foreach(s =>
      h.check.value(s"${s}_hash", OutputHash.of(GraphStore.readLatest(h.spark, replayBase, s).get)))

    val spans = rec.spans
    Files.createDirectories(o.work.resolve("trace"))
    Files.writeString(
      o.work.resolve("trace").resolve(s"spans_${o.workload}_${o.seed}.jsonl"),
      Spans.toJsonLines(spans))

    val cpu = layers.cpuBySpan(spans)
    val shuffle = layers.shuffleMbBySpan(spans)
    def idx(name: String) = spans.indices.filter(spans(_).name == name)
    def selfS(name: String) = idx(name).map(Spans.selfMs(spans, _)).sum / 1e3
    def durS(name: String) = idx(name).map(spans(_).durMs).sum / 1e3
    def cpuS(name: String) = idx(name).map(cpu.getOrElse(_, 0.0)).sum
    def shufMb(name: String) = idx(name).map(shuffle.getOrElse(_, 0.0)).sum

    // Task CPU of the named layer spans of the replay (every span under
    // its root), as a share of the traced build's task CPU: how much of
    // the program's work the layer metrics account for.
    val replayRoot = idx("replay").head
    def under(i: Int): Boolean = i >= 0 && (spans(i).parent == replayRoot || under(spans(i).parent))
    val namedCpuS = cpu.collect { case (i, c) if under(i) => c }.sum
    val buildCpuS = engine.taskList.map(_.cpuNs).sum / 1e9
    Main.log(f"named layer spans $namedCpuS%.2f task-cpu-s, traced build $buildCpuS%.2f")

    val layer = Seq(
      ("extract.self_s", selfS("extract"), "s"),
      ("extract.cpu_s", cpuS("extract"), "s"),
      ("extract.pages", rr.counts("extract.pages").toDouble, "count"),
      ("link.self_s", selfS("link"), "s"),
      ("link.cpu_s", cpuS("link"), "s"),
      ("link.mentions", rr.counts("link.mentions").toDouble, "count"),
      ("link.shuffle_mb", shufMb("link"), "MB"),
      ("triples.pagesets_self_s", selfS("triples.pagesets"), "s"),
      ("triples.pagesets_cpu_s", cpuS("triples.pagesets"), "s"),
      ("triples.evidence_self_s", selfS("triples.evidence"), "s"),
      ("triples.evidence_cpu_s", cpuS("triples.evidence"), "s"),
      ("triples.extract_self_s", selfS("triples.extract"), "s"),
      ("triples.nodes_self_s", selfS("triples.nodes"), "s"),
      ("triples.edges_self_s", selfS("triples.edges"), "s"),
      ("triples.edges_cpu_s", cpuS("triples.edges"), "s"),
      ("canon.self_s", selfS("canon"), "s"),
      ("canon.cpu_s", cpuS("canon"), "s"),
      ("canon.ids", rr.counts("canon.ids").toDouble, "count"),
      ("fixtures.shared_facts_self_s", selfS("fixtures.shared_facts"), "s"),
      ("fixtures.shared_facts_cpu_s", cpuS("fixtures.shared_facts"), "s")) ++
      Replay.families.map { case (f, _) => (s"family.$f.cpu_s", cpuS(s"family.$f"), "s") } ++
      Seq(
        ("merge.fuse_self_s", selfS("merge.fuse"), "s"),
        ("merge.fuse_cpu_s", cpuS("merge.fuse"), "s"),
        ("store.commit_s", durS("store.commit"), "s"),
        ("store.commit_mb", rr.commitBytes / 1e6, "MB"),
        ("store.files", rr.storeFiles.toDouble, "count"),
        ("store.lineage_wait_s", durS("store.lineage_wait"), "s"),
        ("store.validate_s", durS("store.validate"), "s"),
        ("store.read_s", durS("store.read"), "s"),
        ("store.expire_s", durS("store.expire"), "s")) ++
      Main.headline.flatMap(q => Seq(
        (s"op.$q.s", durS(s"op.$q"), "s"),
        (s"op.$q.cpu_s", cpuS(s"op.$q"), "s"))) ++
      Seq(
        ("host.calib_ms", graft.metrics.TaskCounters.calibrate(), "ms"),
        ("trace.build_s", tracedS, "s"),
        ("trace.span_cpu_frac", namedCpuS / math.max(1e-9, buildCpuS), "fraction"))
    engineMetrics ++ layer
  }
}

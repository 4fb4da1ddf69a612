package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ArrayNode
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{DagBenchModels, Registry, TechnicalSignalQueries}
import graft.runtime.{GraftSession, ModelRegistry, Tables}
import graft.runtime.ModelRegistry.{Materialization, ModelDef}

/** A frozen workload from `workloads.json`. Query workloads list
  * registry queries; the DAG workload refreshes `models` (a subset of
  * DagBenchModels, as Table-tier models of a ModelRegistry), then runs
  * `consumers` once over the refreshed tables (`read`) and once from
  * their registry definitions (`recompute`). An untraced run makes at
  * least `passes` timed passes. */
final case class WorkloadDef(
    name: String, sf: String, queries: Seq[String], models: Seq[String],
    consumers: Seq[String], selftest: String, passes: Int) {
  def isDag: Boolean = models.nonEmpty
}

/** One timed unit of a pass. `step` is `query`, `refresh`, `read` or
  * `recompute`; every step but `refresh` is consumed by a noop write. */
final case class Item(name: String, step: String)

/** `analysis` is the Catalyst analysis interval (epoch ms) of the built
  * DataFrame, which Spark runs eagerly inside the build. */
final case class Sample(
    item: Item, qid: String, ok: Boolean, t0: Long, t1: Long, t2: Long, analysis: Option[(Long, Long)],
    cachedRdds: Int, cachedMb: Double, writeFiles: Long, writeMb: Double, models: Int) {
  def wallS: Double = (t2 - t0) / 1e9
  def buildS: Double = (t1 - t0) / 1e9
  def actionS: Double = (t2 - t1) / 1e9
}

final case class Pass(traced: Boolean, wallS: Double, cpuS: Double, gcS: Double, samples: Seq[Sample])

/** Benchmark harness: one JVM, one closed-loop client, local[cores].
  * Starts one session, runs an untimed warm-up pass that checks every
  * result's fingerprint, then runs timed passes (query order permuted by
  * the seed) until `--seconds` have elapsed (at least the workload's
  * `passes`, four when traced), then checks every result once more in
  * the last timed order.
  * With `--trace 1` half the passes are traced (in ABBA order): job
  * groups per query phase, a SparkListener, the QueryExecution of each
  * consuming action and the block manager's storage report give the
  * per-layer numbers and the span tree. The untraced passes of the same
  * run give the tracing overhead. Writes its record to `--out`; prints
  * nothing on stdout. */
object Harness {
  /** Builders of the DagBenchModels models a workload may refresh: the
    * same functions DagBenchModels.registry registers. A benchmark run
    * has no time to refresh all thirteen. */
  private val ModelBuilders: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mart_signal_events" -> TechnicalSignalQueries.signalEvents)
  private val Mb = 1024.0 * 1024.0
  private val mapper = new ObjectMapper()

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val status =
      try { run(opts, opt); 0 }
      catch {
        case e: IllegalArgumentException => System.err.println(s"[perfbench] ${e.getMessage}"); 2
        case e: ContextStopped => System.err.println(s"[perfbench] ${e.getMessage}; no record written"); 3
      }
    sys.exit(status)
  }

  final class ContextStopped(msg: String) extends RuntimeException(msg)

  private def loadWorkload(file: String, name: String, selftest: Boolean): WorkloadDef = {
    val root = mapper.readTree(new File(file))
    val node = root.get("workloads").elements().asScala.find(_.get("name").asText == name)
      .getOrElse(throw new IllegalArgumentException(s"unknown workload '$name'"))
    def strs(k: String): Seq[String] = Option(node.get(k)).map(_.elements().asScala.map(_.asText).toSeq).getOrElse(Nil)
    val w = WorkloadDef(name, node.get("sf").asText, strs("queries"), strs("models"), strs("consumers"),
      node.get("selftest").asText, Option(node.get("passes")).fold(1)(_.asInt))
    // A missing name is an error, never a silent skip.
    val unknown = (w.queries ++ w.consumers :+ w.selftest).filterNot(Registry.byName.contains)
    require(unknown.isEmpty, s"workload $name names queries missing from Registry.byName: ${unknown.mkString(", ")}")
    if (w.isDag) {
      val noBuilder = w.models.filterNot(m => DagBenchModels.modelNames.contains(m) && ModelBuilders.contains(m))
      require(noBuilder.isEmpty, s"workload $name names models that are not buildable DagBenchModels: ${noBuilder.mkString(", ")}")
      val consumerNames = DagBenchModels.consumers(null, "", Map.empty).map(_._1).toSet
      val notConsumers = (w.consumers :+ w.selftest).filterNot(consumerNames)
      require(notConsumers.isEmpty, s"workload $name names non-DAG consumers: ${notConsumers.mkString(", ")}")
    }
    if (!selftest) w
    else if (w.isDag) w.copy(sf = "sf0.001", consumers = Seq(w.selftest))
    else w.copy(sf = "sf0.001", queries = Seq(w.selftest))
  }

  private def run(opts: Map[String, String], opt: String => String): Unit = {
    val jvmToMainS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val selftest = opts.get("selftest").contains("1")
    val w = loadWorkload(opt("workloads"), opt("workload"), selftest)
    val dir = new File(opt("data"), w.sf).getPath
    require(new File(dir, "lineitem.parquet").isFile, s"corpus $dir is missing")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cores = opt("cores").toInt
    val record = opts.get("record") // dump results for the oracle cross-check instead of timing
    val expected = if (record.isDefined) None else Some(mapper.readTree(new File(opt("expected"))))
    val load1Start = loadAvg()

    // --- set-up: one cold session start, then one first touch of the fact
    // tables, which compacts them into this run's fresh tmpdir where the
    // corpus is large enough
    val s0 = System.nanoTime()
    val s = GraftSession.get(Some(s"local[$cores]"), cores)
    quietWindowWarnings()
    val sessionS = (System.nanoTime() - s0) / 1e9
    val c0 = System.nanoTime()
    val tables = Tables(s, dir)
    Seq(tables.orders, tables.lineitem, tables.events)
    val compactS = (System.nanoTime() - c0) / 1e9
    val sc = s.sparkContext
    def checkAlive(): Unit = if (sc.isStopped) throw new ContextStopped("SparkContext stopped during the run")

    // --- items and how to run them
    val items: Seq[Item] =
      if (w.isDag) Item("refresh", "refresh") +: (w.consumers.map(Item(_, "read")) ++ w.consumers.map(Item(_, "recompute")))
      else w.queries.map(Item(_, "query"))
    val warehouse = new File(System.getProperty("java.io.tmpdir"), "perfbench-warehouse")
    var frames = Map.empty[String, DataFrame]
    var consumerFns = Map.empty[String, () => DataFrame]
    def refresh(): Unit = {
      deleteRecursively(warehouse)
      frames = w.models.foldLeft(new ModelRegistry)((r, m) =>
        r.register(ModelDef(m, Nil, Materialization.Table, _ => ModelBuilders(m)(s, dir))))
        .run(s, warehouse.getPath).frames
      consumerFns = DagBenchModels.consumers(s, dir, frames).toMap
    }
    def build(it: Item): DataFrame = it.step match {
      case "read" => consumerFns(it.name)()
      case _      => Registry.byName(it.name).query(s, dir)
    }

    // --- untimed checking passes: the warm-up (fills JIT, memos and
    // footers) and, after the timed passes, one more in the last timed
    // order. Both fingerprint every output against expected.json.
    var attempted = 0
    val failures = mutable.ArrayBuffer.empty[String]
    val fingerprints = mutable.LinkedHashMap.empty[String, Fingerprint]
    def expect(key: String, label: String, fp: => Fingerprint): Unit = {
      val got = fp
      fingerprints(key) = got
      expected.foreach { ex =>
        val e = Option(ex.get(w.sf)).flatMap(n => Option(n.get(key)))
        val rowsOnly = Option(ex.get("rows_only")).exists(_.elements().asScala.exists(_.asText == key))
        e match {
          case None => failures += s"$key ($label): no expected fingerprint"
          case Some(n) =>
            val want = Fingerprint(n.get("rows").asLong, n.get("schema").asText, n.get("hash").asText)
            if (!got.matches(want, rowsOnly)) failures += s"$key ($label): got $got, expected $want"
        }
      }
    }
    // `refreshed`: check the tables the last timed refresh wrote instead
    // of refreshing again.
    def checkPass(order: Seq[Item], label: String, refreshed: Boolean): Unit = order.foreach { it =>
      attempted += 1
      s.catalog.clearCache()
      try it.step match {
        case "refresh" =>
          if (!refreshed) refresh()
          frames.toSeq.sortBy(_._1).foreach { case (m, df) => expect(s"model:$m", label, Fingerprint.of(df)) }
        case _ =>
          val df = build(it)
          val key = if (it.step == "read") s"read:${it.name}" else it.name
          expect(key, label, Fingerprint.of(df))
          if (it.step != "read" && !refreshed)
            record.foreach(d => df.repartition(1).write.mode("overwrite").parquet(new File(d, key).getPath))
      } catch {
        case NonFatal(e) => checkAlive(); failures += s"${it.name} (${it.step}, $label): ${e.getMessage}"
      }
    }
    val w0 = System.nanoTime()
    checkPass(items, "warm-up", refreshed = false)
    val warmupS = (System.nanoTime() - w0) / 1e9
    record.foreach { d =>
      val oracles = mapper.createObjectNode()
      items.filter(_.step != "read").flatMap(i => Registry.byName.get(i.name)).distinct
        .foreach(q => q.oracle.foreach(o => oracles.put(q.name, o.trim)))
      mapper.writeValue(new File(d, "oracle_sql.json"), oracles)
    }

    // --- timed passes
    val rng = new scala.util.Random(seed)
    val passes = mutable.ArrayBuffer.empty[Pass]
    val recorders = mutable.ArrayBuffer.empty[Recorder]
    val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def gcS() = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0
    // A traced run needs whole ABBA blocks, so that the JIT still warming
    // up does not bias the overhead estimate.
    val minPasses = if (traced) 4 else w.passes
    var lastOrder = items
    val setupS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val timed0 = System.nanoTime()
    while (record.isEmpty && (passes.size < minPasses || (System.nanoTime() - timed0) / 1e9 < seconds)) {
      val p = passes.size
      val tracePass = traced && (p % 4 == 1 || p % 4 == 2) // untraced, traced, traced, untraced, ...
      val order = items.groupBy(_.step).toSeq
        .sortBy { case (st, _) => Seq("refresh", "query", "read", "recompute").indexOf(st) }
        .flatMap { case (_, its) => rng.shuffle(its) }
      lastOrder = order
      val rec = new Recorder
      if (tracePass) { sc.addSparkListener(rec); s.listenerManager.register(rec) }
      val cpu0 = os.getProcessCpuTime; val gc0 = gcS(); val p0 = System.nanoTime()
      val samples = order.zipWithIndex.map { case (it, i) =>
        val qid = s"p$p.$i"
        attempted += 1
        s.catalog.clearCache()
        val t0 = System.nanoTime()
        var t1 = t0
        var files = 0L
        var mb = 0.0
        var analysis = Option.empty[(Long, Long)]
        val ok =
          try {
            if (it.step == "refresh") {
              if (tracePass) sc.setJobGroup(s"$qid|write", it.name)
              refresh()
              t1 = System.nanoTime()
              val parts = listFiles(warehouse).filter(_.getName.startsWith("part-"))
              files = parts.size.toLong; mb = parts.map(_.length).sum / Mb
            } else {
              if (tracePass) sc.setJobGroup(s"$qid|build", it.name)
              val df = build(it)
              t1 = System.nanoTime()
              if (tracePass) {
                analysis = df.queryExecution.tracker.phases.get("analysis").map(ph => (ph.startTimeMs, ph.endTimeMs))
                sc.setJobGroup(s"$qid|execute", it.name)
              }
              df.write.format("noop").mode("overwrite").save()
            }
            true
          } catch {
            case NonFatal(e) => checkAlive(); failures += s"${it.name} (${it.step}, pass $p): ${e.getMessage}"; false
          } finally sc.clearJobGroup()
        val t2 = System.nanoTime()
        val (rdds, cachedMb) =
          if (!tracePass) (0, 0.0)
          else (sc.getPersistentRDDs.size, sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / Mb)
        Sample(it, qid, ok, t0, t1, t2, analysis, rdds, cachedMb, files, mb, if (it.step == "refresh") frames.size else 0)
      }
      val wall = (System.nanoTime() - p0) / 1e9
      val pass = Pass(tracePass, wall, (os.getProcessCpuTime - cpu0) / 1e9, gcS() - gc0, samples)
      if (tracePass) {
        rec.drain(s, s"perfbench-drain-$p")
        sc.removeSparkListener(rec); s.listenerManager.unregister(rec)
      }
      passes += pass
      recorders += rec
    }
    if (record.isEmpty) checkPass(lastOrder, "final check", refreshed = true)
    checkAlive()

    // --- end of run: retained heap, context stamp. Spark's ContextCleaner
    // frees unreferenced broadcast blocks asynchronously, after a GC has
    // cleared their weak references, so collect until the heap stops shrinking.
    s.catalog.clearCache()
    def usedMb(): Double = {
      System.gc(); Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / Mb
    }
    var heapLiveMb = usedMb()
    var readings = 1
    var settled = false
    while (readings < 10 && !settled) {
      val u = usedMb()
      settled = readings >= 2 && u > heapLiveMb - 1
      heapLiveMb = math.min(heapLiveMb, u)
      readings += 1
    }
    val out = mapper.createObjectNode()
    out.put("workload", w.name).put("sf", w.sf).put("seed", seed).put("trace", traced)
    val ctx = out.putObject("context")
    ctx.put("nproc", cores).put("load1_start", load1Start).put("load1_end", loadAvg())
      .put("heap_max_mb", Runtime.getRuntime.maxMemory / Mb).put("spark_version", s.version)
      .put("src_fingerprint", opt("code")).put("java_version", System.getProperty("java.version"))
    out.putObject("setup").put("jvm_s", jvmToMainS).put("session_s", sessionS)
      .put("compact_s", compactS).put("warmup_s", warmupS)
    out.put("attempted", attempted).put("failed", failures.size)
    val fa = out.putArray("failures"); failures.foreach(fa.add)
    val fps = out.putObject("fingerprints")
    fingerprints.foreach { case (k, f) => fps.putObject(k).put("rows", f.rows).put("schema", f.schema).put("hash", f.hash) }

    val plain = passes.filterNot(_.traced).toSeq
    val ps = out.putArray("passes")
    passes.foreach { p =>
      val n = ps.addObject().put("traced", p.traced).put("pass_s", p.wallS).put("cpu_s", p.cpuS)
      p.samples.groupBy(_.item.step).foreach { case (st, ss) => n.put(s"${st}_s", ss.map(_.wallS).sum) }
    }
    val lats = out.putObject("latencies")
    passes.flatMap(_.samples).groupBy(x => s"${x.item.step}:${x.item.name}").toSeq.sortBy(_._1).foreach {
      case (k, xs) => val a = lats.putArray(k); xs.foreach(x => a.add(x.wallS))
    }
    val metrics = out.putObject("metrics")
    def put(name: String, v: Double, unit: String): Unit = metrics.putObject(name).put("value", v).put("unit", unit)
    if (record.isEmpty && !traced) {
      val ok = plain.flatMap(_.samples).filter(_.ok)
      // Each item's median over the passes, then the median over items:
      // with several passes this keeps one item's samples from standing
      // in for another's.
      val lat = ok.groupBy(_.item).values.map(xs => median(xs.map(_.wallS))).toSeq
      put("setup_s", setupS, "s")
      put("pass_s", median(plain.map(_.wallS)), "s")
      put("latency_p50_s", median(lat), "s")
      put("cpu_s", median(plain.map(_.cpuS)), "s")
      put("heap_live_mb", heapLiveMb, "MB")
      out.put("latency_samples", ok.size)
    }
    if (traced) {
      val spans = out.putArray("spans")
      val perPass = passes.zip(recorders).filter(_._1.traced).map { case (p, r) => layerMetrics(p, r, cores, spans) }
      perPass.head.foreach { case (k, (_, unit)) => put(k, median(perPass.map(_(k)._1).toSeq), unit) }
      put("setup.session_s", sessionS, "s")
      put("setup.compact_s", compactS, "s")
      put("setup.warmup_s", warmupS, "s")
      put("trace.overhead_s", median(passes.filter(_.traced).map(_.wallS).toSeq) - median(plain.map(_.wallS)), "s")
      // the overhead is only meaningful against the pass-to-pass spread
      out.put("pass_spread_s", passes.map(_.wallS).max - passes.map(_.wallS).min)
    }
    mapper.writerWithDefaultPrettyPrinter().writeValue(new File(opt("out")), out)
    s.stop()
  }

  /** Per-layer sums for one traced pass; appends its span trees to `out`. */
  private def layerMetrics(p: Pass, r: Recorder, cores: Int, out: ArrayNode)
      : Map[String, (Double, String)] = r.synchronized {
    val epoch0 = System.currentTimeMillis() * 1e6 - System.nanoTime()
    def ms(nanos: Long): Double = (epoch0 + nanos) / 1e6
    val byQid = r.jobs.values.filter(_.group.contains('|')).groupBy(_.group.split('|')(0))
    val stagesOf = r.stages.values.filter(st => r.stageJob.get(st.id).exists(j => r.jobs(j).group.contains('|')))
    val sums = new TaskSums
    stagesOf.foreach(st => sums.add(st.sums))
    var build, analysis, optimization, planning, action = 0.0
    var exchanges, sorts, smj, bhj, cacheScans, aqeReads, buildJobs = 0
    var persisted, models = 0
    var cachedMb, writeMb = 0.0
    var writeFiles = 0L
    p.samples.foreach { x =>
      val spans = mutable.ArrayBuffer(Span(x.item.name, -1, ms(x.t0), ms(x.t2)))
      def add(sp: Span): Int = { spans += sp; spans.size - 1 }
      val phaseIdx = mutable.Map.empty[String, Int]
      if (x.item.step == "refresh") {
        phaseIdx("write") = add(Span("write", 0, ms(x.t0), ms(x.t1)))
        writeFiles += x.writeFiles; writeMb += x.writeMb; models += x.models
      } else {
        build += x.buildS; action += x.actionS
        phaseIdx("build") = add(Span("build", 0, ms(x.t0), ms(x.t1)))
        x.analysis.foreach { case (a, b) =>
          val sp = Span("analysis", phaseIdx("build"), math.max(a.toDouble, ms(x.t0)), math.min(b.toDouble, ms(x.t1)))
          if (sp.durMs > 0) { add(sp); analysis += sp.durMs / 1000 }
        }
        persisted += x.cachedRdds; cachedMb += x.cachedMb
        var execStart = ms(x.t1)
        // The noop write whose planning started inside this action is this
        // query's; listener events reach the recorder asynchronously.
        val plan = r.plans.find(_.phases.get("planning").exists { case (a, _) => a >= ms(x.t1) - 1 && a <= ms(x.t2) })
        plan.foreach { pr =>
          exchanges += pr.exchanges; sorts += pr.sorts; smj += pr.smj; bhj += pr.bhj
          cacheScans += pr.cacheScans; aqeReads += pr.aqeReads
          Seq("analysis", "optimization", "planning").foreach { ph =>
            pr.phases.get(ph).foreach { case (a, b) =>
              val sp = Span(ph, 0, math.max(a.toDouble, ms(x.t1)), math.min(b.toDouble, ms(x.t2)))
              if (sp.durMs > 0) {
                add(sp)
                execStart = math.max(execStart, sp.endMs)
                ph match {
                  case "analysis"     => analysis += sp.durMs / 1000
                  case "optimization" => optimization += sp.durMs / 1000
                  case _              => planning += sp.durMs / 1000
                }
              }
            }
          }
        }
        phaseIdx("execute") = add(Span("execute", 0, execStart, ms(x.t2)))
      }
      val qs = new TaskSums
      byQid.getOrElse(x.qid, Nil).toSeq.sortBy(_.id).foreach { j =>
        val phase = j.group.split('|')(1)
        if (phase == "build") buildJobs += 1
        val parent = phaseIdx.getOrElse(phase, 0)
        val ji = add(Span(s"job ${j.id}", parent, j.startMs.toDouble, math.max(j.endMs, j.startMs).toDouble))
        j.stageIds.filter(id => r.stageJob.get(id).contains(j.id)).flatMap(r.stages.get)
          .filter(_.submitMs >= 0).foreach { st =>
            qs.add(st.sums)
            add(Span(s"stage ${st.id}", ji, st.submitMs.toDouble, math.max(st.completeMs, st.submitMs).toDouble))
          }
      }
      val self = Span.selfTimes(spans.toIndexedSeq)
      val q = out.addObject().put("id", x.qid).put("name", x.item.name).put("step", x.item.step).put("ok", x.ok)
        .put("wall_s", x.wallS).put("tasks", qs.tasks).put("task_run_s", qs.runMs / 1000.0)
        .put("task_cpu_s", qs.cpuNs / 1e9)
      val arr = q.putArray("spans")
      spans.zip(self).foreach { case (sp, st) =>
        arr.addObject().put("name", sp.name).put("parent", sp.parent)
          .put("start_ms", sp.startMs).put("end_ms", sp.endMs).put("self_ms", st)
      }
    }
    val jobs = byQid.values.map(_.size).sum
    val stageCount = stagesOf.count(_.completeMs >= 0)
    val taskCpuS = sums.cpuNs / 1e9
    Map(
      "queries.build_s" -> (build, "s"), "queries.build_jobs" -> (buildJobs.toDouble, "count"),
      "catalyst.analysis_s" -> (analysis, "s"), "catalyst.optimization_s" -> (optimization, "s"),
      "catalyst.planning_s" -> (planning, "s"),
      "exec.jobs" -> (jobs.toDouble, "count"), "exec.stages" -> (stageCount.toDouble, "count"),
      "exec.tasks" -> (sums.tasks.toDouble, "count"),
      "exec.task_overhead_s" -> ((sums.durationMs - sums.runMs) / 1000.0, "s"),
      "exec.action_s" -> (action, "s"), "exec.task_run_s" -> (sums.runMs / 1000.0, "s"),
      "exec.task_cpu_s" -> (taskCpuS, "s"), "exec.gc_s" -> (sums.gcMs / 1000.0, "s"),
      "exec.shuffle_read_mb" -> (sums.shuffleReadB / Mb, "MB"),
      "exec.shuffle_write_mb" -> (sums.shuffleWriteB / Mb, "MB"),
      "exec.spill_mb" -> (sums.spillB / Mb, "MB"), "exec.input_mb" -> (sums.inputB / Mb, "MB"),
      "exec.busy_frac" -> (sums.runMs / 1000.0 / (p.wallS * cores), "ratio"),
      "plan.exchanges" -> (exchanges.toDouble, "count"), "plan.sorts" -> (sorts.toDouble, "count"),
      "plan.smj" -> (smj.toDouble, "count"), "plan.bhj" -> (bhj.toDouble, "count"),
      "plan.cache_scans" -> (cacheScans.toDouble, "count"), "plan.aqe_replans" -> (aqeReads.toDouble, "count"),
      "cache.persisted" -> (persisted.toDouble, "count"), "cache.stored_mb" -> (cachedMb, "MB"),
      "cache.reads_per_persist" -> (if (persisted == 0) 0.0 else cacheScans.toDouble / persisted, "ratio"),
      "write.models" -> (models.toDouble, "count"), "write.files" -> (writeFiles.toDouble, "count"),
      "write.mb" -> (writeMb, "MB"),
      "driver.cpu_s" -> (p.cpuS - taskCpuS, "s"), "jvm.gc_s" -> (p.gcS, "s"))
  }

  private def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "no samples to take a median of")
    val v = xs.sorted
    if (v.size % 2 == 1) v(v.size / 2) else (v(v.size / 2 - 1) + v(v.size / 2)) / 2
  }

  private def loadAvg(): Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  private def listFiles(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(listFiles) else if (f.isFile) Seq(f) else Nil

  private def deleteRecursively(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }

  /** The bounded global-window sites log one identical WindowExec warning
    * each; keep the run log readable. */
  private def quietWindowWarnings(): Unit =
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec", org.apache.logging.log4j.Level.ERROR)
}

package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.perfbench.SparkInternals

import graft.SparkEntry
import graft.engine.GraftSession

/** One op of a workload: a `SparkEntry.queries` row, or (prefix `build:`)
  * a `SparkEntry.pipelines` builder. */
final case class Op(name: String, isBuild: Boolean) {
  override def toString: String = if (isBuild) s"build:$name" else name
}

object Op {
  def parse(s: String): Op =
    if (s.startsWith("build:")) Op(s.stripPrefix("build:"), isBuild = true)
    else Op(s, isBuild = false)
}

/** One executed op. Times are nanoTime; `frame*` brackets the
  * `SparkEntry.queries` call that builds the result frame. */
final case class OpRecord(op: Op, id: String, start: Long, end: Long,
    frameStart: Long, frameEnd: Long, rows: Long, error: Option[String]) {
  def seconds: Double = (end - start) / 1e9
}

final case class PassStats(wall: Double, cpu: Double, records: Seq[OpRecord])

final case class Conf(workload: String, ops: Seq[Op], setupBuilds: Seq[String],
    checks: Map[String, String], permute: Boolean, seed: Long, seconds: Double,
    trace: Boolean, data: String, root: String, digests: String,
    spansOut: String, nproc: Int, warmup: Int, passSeconds: Double, deadline: Double)

object Conf {
  def parse(args: Array[String]): Conf = {
    val m = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def list(k: String) = m.getOrElse(k, "").split(',').toSeq.filter(_.nonEmpty)
    Conf(m("workload"), list("ops").map(Op.parse), list("setup-builds"),
      list("checks").map { kv => val Array(b, q) = kv.split('='); b -> q }.toMap,
      m.getOrElse("permute", "true").toBoolean, m("seed").toLong,
      m("seconds").toDouble, m("trace") == "1", m("data"), m("root"), m("digests"),
      m.getOrElse("spans", ""), m("nproc").toInt, m.getOrElse("warmup", "0").toInt,
      m.getOrElse("pass-seconds", "0").toDouble, m.getOrElse("deadline", "150").toDouble)
  }
}

object Jobs {

  /** Runs `body` under job group `group` and returns how many Spark jobs it
    * started, as the scheduler's status tracker saw them. */
  def counted(sc: SparkContext, group: String)(body: => Unit): Int = {
    sc.setJobGroup(group, group, interruptOnCancel = false)
    try body finally sc.clearJobGroup()
    SparkInternals.drain(sc)
    sc.statusTracker.getJobIdsForGroup(group).length
  }
}

/** JVM-wide counters: collection and JIT compile milliseconds, and Spark
  * codegen compiles, since the JVM started. */
object Jvm {
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum
  def codegens: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}

object Main {
  private val t0Ns = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  def epochMs(ns: Long): Double = t0Ms + (ns - t0Ns) / 1e6
  def elapsed: Double = (System.nanoTime() - t0Ns) / 1e9

  def log(s: String): Unit = System.err.println(s"[perfbench] $s")

  def main(args: Array[String]): Unit = {
    val c = Conf.parse(args)
    val expected: Map[String, Digest] = Files.readAllLines(Paths.get(c.digests)).asScala
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(n, d) = l.split("\\s+"); n -> Digest.parse(d) }.toMap
    val b = new Bench(c, expected)
    val metrics = try b.run() finally b.stop()
    val json = metrics.map { case (k, (v, unit)) =>
      s""""$k": {"value": ${num(v)}, "unit": "$unit"}""" }.mkString("{", ", ", "}")
    println(s"""{"correct": ${b.failed == 0}, "attempted": ${b.attempted}, """ +
      s""""failed": ${b.failed}, "metrics": $json}""")
  }

  /** JSON number with every digit; non-finite values become null. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
}

/** One run of one workload: set-up, warm-up passes, then closed-loop timed
  * passes by a single client (each op starts when the previous one ends). */
final class Bench(c: Conf, expected: Map[String, Digest]) {
  import Main.log
  private val MB = 1024.0 * 1024.0

  var attempted = 0
  var failed = 0
  private val failures = mutable.LinkedHashMap.empty[String, Int].withDefaultValue(0)
  private var spark: SparkSession = _
  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private var aliases = 0

  /** A fresh symlink to the input data: `SessionCache` keys on the data dir,
    * so a build on a new alias really builds instead of returning the
    * previous pass's result. */
  private def freshAlias(): String = {
    aliases += 1
    val p = Paths.get(c.root, "data", s"a$aliases")
    Files.createDirectories(p.getParent)
    Files.createSymbolicLink(p, Paths.get(c.data).toAbsolutePath)
    p.toString
  }

  private def fail(what: String, msg: String): Unit = {
    failed += 1
    failures(what) += 1
    log(s"FAIL $what: $msg")
  }

  private def describe(e: Throwable): String =
    s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").linesIterator.nextOption().getOrElse("")}"

  private def newSession(): SparkSession = {
    val s = GraftSession.builder(appName = s"perfbench-${c.workload}", cpus = c.nproc.toString)
      .config("spark.sql.warehouse.dir", Paths.get(c.root, "warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(): Unit = if (spark != null) { spark.stop(); spark = null }

  /** Run one builder under its own job group; a build that starts no Spark
    * job returned a cached result and is a failure, never a fast build. */
  private def build(name: String, dir: String, group: String): Option[String] =
    try {
      val pipeline = SparkEntry.pipelines.find(_._1 == name)
        .getOrElse(throw new NoSuchElementException(s"no pipeline $name"))._2
      if (Jobs.counted(spark.sparkContext, group)(pipeline(spark, dir)) == 0)
        Some(s"build $name started no Spark job (a cached result, not a build)")
      else None
    } catch { case e: Throwable => Some(describe(e)) }

  /** Build a query's frame and run its digest; returns (rows, frame times). */
  private def query(name: String, dir: String, group: String): (Long, Long, Long, Option[String]) = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group, interruptOnCancel = false)
    val f0 = System.nanoTime()
    var f1 = f0
    try {
      val df = SparkEntry.queries.getOrElse(name,
        throw new NoSuchElementException(s"no query $name"))(spark, dir)
      f1 = System.nanoTime()
      val d = Digest.of(df)
      val err = expected.get(name) match {
        case None => Some(s"no expected digest for $name")
        case Some(e) if e != d => Some(s"wrong result: digest $d, expected $e")
        case _ => None
      }
      (d.rows, f0, f1, err)
    } catch { case e: Throwable =>
      if (f1 == f0) f1 = System.nanoTime()
      (0L, f0, f1, Some(describe(e)))
    } finally sc.clearJobGroup()
  }

  private def runOp(op: Op, pass: Int, dir: String): OpRecord = {
    attempted += 1
    val id = s"p$pass:$op"
    val t0 = System.nanoTime()
    val (rows, f0, f1, err) =
      if (op.isBuild) { val e = build(op.name, dir, id); (0L, t0, t0, e) }
      else query(op.name, dir, id)
    val r = OpRecord(op, id, t0, System.nanoTime(), f0, f1, rows, err)
    err.foreach(fail(op.toString, _))
    r
  }

  /** Consumer rows for this pass's builds, outside any timed window: each
    * build must feed a row whose digest matches the verified one. */
  private def checkBuilds(dir: String, pass: Int): Unit =
    c.ops.filter(_.isBuild).foreach { op =>
      c.checks.get(op.name) match {
        case None => attempted += 1; fail(s"check:${op.name}", "no consumer row named")
        case Some(q) =>
          attempted += 1
          val (_, _, _, err) = query(q, dir, s"p$pass:check:${op.name}")
          err.foreach(fail(s"check:${op.name}:$q", _))
      }
    }

  private var queryDir: String = _

  private def pass(k: Int): PassStats = {
    val dir = if (c.ops.exists(_.isBuild)) freshAlias() else queryDir
    val order = Stats.order(c.ops, c.seed, k, c.permute)
    val cpu0 = cpuBean.getProcessCpuTime
    val (jit0, gc0, cg0) = (Jvm.jitMs, Jvm.gcMs, Jvm.codegens)
    val t0 = System.nanoTime()
    val recs = order.map(runOp(_, k, dir))
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = (cpuBean.getProcessCpuTime - cpu0) / 1e9
    log(f"pass $k: $wall%.3f s, cpu $cpu%.2f s, jit ${(Jvm.jitMs - jit0) / 1e3}%.2f s, " +
      f"gc ${(Jvm.gcMs - gc0) / 1e3}%.2f s, codegen ${Jvm.codegens - cg0}; " + recs.map(r =>
      f"${r.op}=${r.seconds}%.3f${if (r.error.isEmpty) "" else "(failed)"}").mkString(" "))
    if (k == 0) checkBuilds(dir, k)
    PassStats(wall, cpu, recs)
  }

  /** Heap in use right after a full collection, outside every timed window.
    * Collections repeat while they still free memory: Spark's cleaner
    * releases shuffle and broadcast blocks only after a collection has found
    * their owners unreachable. The figure is the collectors' after-collection
    * usage, so allocation after the collection does not count. */
  private def heapLiveMb(): Double = {
    def collect(): Double = {
      ManagementFactory.getMemoryMXBean.gc()
      ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / MB
    }
    // At least three collections, since the cleaner may not have freed
    // anything by the second; the least reading is the live heap, as garbage
    // the cleaner has yet to release can only add to it.
    var readings = Seq(collect())
    while (readings.size < 3 ||
        (readings.last < readings(readings.size - 2) - 0.5 && readings.size < 6)) {
      Thread.sleep(200)
      readings :+= collect()
    }
    readings.min
  }

  /** Bytes the run keeps: indexes, layouts, sinks and checkpoints under its
    * private root. Shuffle and spill scratch lives outside the root, since
    * when Spark deletes it depends on garbage-collection timing. */
  private def storedMb(): Double = {
    val s = Files.walk(Paths.get(c.root))
    try s.iterator.asScala.filter(p => Files.isRegularFile(p))
      .map(p => Files.size(p)).sum / MB
    finally s.close()
  }

  def run(): Seq[(String, (Double, String))] = {
    // Set-up: a cold session plus the builds the workload serves from. It
    // runs once per run: the program's session caches are static, and a
    // second session in the same JVM fails on handles of the stopped one.
    val t0 = System.nanoTime()
    spark = newSession()
    queryDir = freshAlias()
    c.setupBuilds.foreach { b =>
      attempted += 1
      build(b, queryDir, s"setup:build:$b").foreach(fail(s"setup:build:$b", _))
    }
    val setupS = (System.nanoTime() - t0) / 1e9
    log("effective spark.sql.* conf: " + spark.conf.getAll.toSeq.sorted
      .collect { case (k, v) if k.startsWith("spark.sql.") => s"$k=$v" }.mkString(" "))

    // Warm-up, untimed: codegen, JIT and lazy caches fill here. Pass 0
    // runs the build checks; `warmup` further passes (numbered -1, -2, ...)
    // follow, since the JIT is still compiling Spark's planner and executor
    // paths for several passes after the first. A count, not a time, so a
    // slow start does not leave the timed passes colder.
    pass(0)
    val stored = storedMb()
    log(f"stored after set-up and one pass: $stored%.3f MB")
    (1 to c.warmup).foreach(w => pass(-w))

    if (!c.trace) {
      // The timed window is a count of passes, `seconds` over the
      // workload's nominal pass time: every run then times the same passes
      // at the same point of the JIT's warm-up, where a time limit would
      // time fewer and earlier passes on a slower run. At least two, so the
      // figures are never one sample.
      val target = math.max(2, math.round(c.seconds / c.passSeconds).toInt)
      val passes = mutable.ArrayBuffer.empty[PassStats]
      while (passes.size < 2 || (passes.size < target && Main.elapsed < c.deadline)) {
        passes += pass(passes.size + 1)
      }
      // Full collections unload the generated classes and their compiled
      // code, which slows the passes after them: heap is measured once, after
      // the last timed pass.
      val heap = heapLiveMb()
      // Latency of the ops that succeeded; if none did, of all of them.
      val timed = passes.flatMap(_.records)
      val lat = Some(timed.filter(_.error.isEmpty)).filter(_.nonEmpty).getOrElse(timed)
        .map(_.seconds)
      val n = lat.size
      log(f"timed passes ${passes.size}, op samples $n, beyond p90 ${Stats.beyond(n, 0.9)}" +
        s", highest percentile with ${Stats.MinBeyond} beyond: p${Stats.highestSupported(n)}")
      if (!Stats.supports(n, 0.9))
        log(s"op_p90_s rests on ${Stats.beyond(n, 0.9)} samples beyond it (rule: ${Stats.MinBeyond})")
      summary()
      val att = attempted.toDouble
      // Per-pass figures over the whole timed window (the inverse of
      // throughput): with three passes a run, a median would rest on one.
      def perPass(f: PassStats => Double): Double = passes.map(f).sum / passes.size
      Seq(
        "setup_s" -> (setupS, "s"),
        "wall_s" -> (perPass(_.wall), "s"),
        "op_p50_s" -> (Stats.quantile(lat.toSeq, 0.5), "s"),
        "op_p90_s" -> (Stats.quantile(lat.toSeq, 0.9), "s"),
        "cpu_s" -> (perPass(_.cpu), "s"),
        "heap_live_mb" -> (heap, "MB"),
        "stored_mb" -> (stored, "MB"),
        "ok_frac" -> ((att - failed) / att, "frac"))
    } else {
      // The traced pass sits between two untraced ones; its overhead is
      // measured against their mean, so residual warm-up does not count.
      val before = pass(1)
      val layers = new Layers(spark, c.nproc)
      layers.start()
      val traced = pass(2)
      val finish = layers.finish(traced.records, c.spansOut)
      val after = pass(3)
      summary()
      finish :+ ("trace.overhead_frac" -> (traced.wall / ((before.wall + after.wall) / 2) - 1, "frac"))
    }
  }

  private def summary(): Unit =
    if (failures.nonEmpty)
      log(s"$failed of $attempted ops failed: " +
        failures.map { case (k, v) => s"$k x$v" }.mkString(", "))
    else log(s"all $attempted ops correct")
}

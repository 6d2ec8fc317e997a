package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.perfbench.SparkInternals
import org.apache.spark.sql.SparkSession

import graft.ops.CacheRegistry

/** The traced pass: listeners on for one pass, then per-layer metrics and
  * the span tree run -> pass -> op -> frame / sql -> job -> stage -> task. */
final class Layers(spark: SparkSession, nproc: Int) {
  import Main.epochMs

  private val MB = 1024.0 * 1024.0
  private val col = new Collector
  import Jvm.{gcMs, jitMs, codegens => compiles}
  private var gc0, jit0, compiles0 = 0L
  private var t0 = 0L

  def start(): Unit = {
    SparkInternals.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(col)
    spark.listenerManager.register(col.queryListener)
    spark.streams.addListener(col.streamListener)
    gc0 = gcMs; jit0 = jitMs; compiles0 = compiles
    t0 = System.nanoTime()
  }

  def finish(recs: Seq[OpRecord], spansOut: String): Seq[(String, (Double, String))] = {
    val t1 = System.nanoTime()
    val gc = (gcMs - gc0) / 1e3
    val jit = (jitMs - jit0) / 1e3
    val nCompiles = compiles - compiles0
    val compileS = nCompiles * CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean / 1e3
    SparkInternals.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(col)
    spark.listenerManager.unregister(col.queryListener)
    spark.streams.removeListener(col.streamListener)
    val cacheFrames = CacheRegistry.size.toDouble
    val cacheMb = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / MB

    col.synchronized {
      opIds = recs.zipWithIndex.map { case (r, i) => r.id -> ((1L << 40) + 2 * i) }.toMap
      val spans = Spans.clip(buildSpans(recs, epochMs(t0), epochMs(t1)))
      val self = Spans.selfTimes(spans)
      checkSelf(spans, self, recs)
      if (spansOut.nonEmpty) writeSpans(spansOut, spans, self)

      val tasks = col.tasks.toSeq
      val opWall = recs.map(_.seconds).sum
      val opIntervals = recs.map(r => (epochMs(r.start), epochMs(r.end)))
      val taskIv = tasks.map(t => (t.launch.toDouble, t.finish.toDouble))
      val active = Spans.unionMs(taskIv) / 1e3
      val activeInOps = Spans.unionMs(for {
        (s, e) <- taskIv; (os, oe) <- opIntervals
        if s < oe && e > os
      } yield (math.max(s, os), math.min(e, oe))) / 1e3
      val frames = recs.filter(r => !r.op.isBuild)
      val frameJobs = col.jobs.values.count { j =>
        frames.exists(r => j.group.contains(r.id) &&
          j.start >= epochMs(r.frameStart) && j.start <= epochMs(r.frameEnd))
      }
      val resultRows = frames.map(_.rows).sum
      def scan(n: String) = n.startsWith("Scan ")
      def join(n: String) = n.contains("Join") || n == "CartesianProduct"
      def agg(n: String) = n.contains("Aggregate")
      val scanRows = col.metricSum(scan, "number of output rows")
      def bySelf(kind: String) =
        spans.filter(_.kind == kind).map(s => self.getOrElse(s.id, 0.0)).sum / 1e3
      val progress = col.progress.toSeq
      val p = col.plans.toSeq

      Seq(
        "queries.frame_s" -> (frames.map(r => (r.frameEnd - r.frameStart) / 1e9).sum, "s"),
        "queries.frame_jobs" -> (frameJobs.toDouble, "count"),
        "cache.frames" -> (cacheFrames, "count"),
        "cache.mem_mb" -> (cacheMb, "MB"),
        "plan.analysis_s" -> (p.map(_.analysisMs).sum / 1e3, "s"),
        "plan.optimization_s" -> (p.map(_.optimizationMs).sum / 1e3, "s"),
        "plan.planning_s" -> (p.map(_.planningMs).sum / 1e3, "s"),
        "plan.hash_exchanges" -> (p.map(_.hashExchanges).sum.toDouble, "count"),
        "plan.smj" -> (p.map(_.smj).sum.toDouble, "count"),
        "plan.bhj" -> (p.map(_.bhj).sum.toDouble, "count"),
        "plan.nlj" -> (p.map(_.nlj).sum.toDouble, "count"),
        "plan.codegen_fallback" -> (p.map(_.codegenFallback).sum.toDouble, "count"),
        "codegen.compiles" -> (nCompiles.toDouble, "count"),
        "codegen.compile_s" -> (compileS, "s"),
        "exec.jobs" -> (col.jobs.size.toDouble, "count"),
        "exec.stages" -> (col.stages.size.toDouble, "count"),
        "exec.tasks" -> (tasks.size.toDouble, "count"),
        "exec.task_run_s" -> (tasks.map(_.runMs).sum / 1e3, "s"),
        "exec.sched_delay_s" -> (tasks.map(_.schedMs).sum / 1e3, "s"),
        "exec.task_cpu_s" -> (tasks.map(_.cpuNs).sum / 1e9, "s"),
        "exec.task_gc_s" -> (tasks.map(_.gcMs).sum / 1e3, "s"),
        "exec.active_s" -> (active, "s"),
        "exec.driver_s" -> (opWall - activeInOps, "s"),
        "exec.slot_busy_frac" -> (tasks.map(t => t.finish - t.launch).sum / 1e3 / (nproc * opWall), "frac"),
        "exec.peak_task_mem_mb" -> (if (tasks.isEmpty) 0.0 else tasks.map(_.peakMem).max / MB, "MB"),
        "shuffle.write_mb" -> (tasks.map(_.shWriteBytes).sum / MB, "MB"),
        "shuffle.write_records" -> (tasks.map(_.shWriteRecs).sum.toDouble, "count"),
        "shuffle.read_mb" -> (tasks.map(_.shReadBytes).sum / MB, "MB"),
        "shuffle.read_records" -> (tasks.map(_.shReadRecs).sum.toDouble, "count"),
        "shuffle.fetch_wait_s" -> (tasks.map(_.fetchWaitMs).sum / 1e3, "s"),
        "scan.files" -> (col.metricSum(scan, "number of files read"), "count"),
        "scan.mb" -> (col.metricSum(scan, "size of files read") / MB, "MB"),
        "scan.rows" -> (scanRows, "count"),
        "scan.rows_per_result_row" -> (scanRows / math.max(1L, resultRows), "ratio"),
        "spill.disk_mb" -> (tasks.map(_.spillDisk).sum / MB, "MB"),
        "write.mb" -> (tasks.map(_.outBytes).sum / MB, "MB"),
        "write.records" -> (tasks.map(_.outRecs).sum.toDouble, "count"),
        "op.join.rows_out" -> (col.metricSum(join, "number of output rows"), "count"),
        "op.agg.rows_out" -> (col.metricSum(agg, "number of output rows"), "count"),
        "op.agg.time_s" -> (col.metricSum(agg, "time in aggregation build"), "s"),
        "op.sort.time_s" -> (col.metricSum(_ == "Sort", "sort time"), "s"),
        "op.broadcast.build_s" -> (col.metricSum(_ == "BroadcastExchange", "time to build"), "s"),
        "op.broadcast.mb" -> (col.metricSum(_ == "BroadcastExchange", "data size") / MB, "MB"),
        "stream.batches" -> (progress.size.toDouble, "count"),
        "stream.batch_s" -> (progress.map(_.batchMs).sum / 1e3, "s"),
        "stream.commit_s" -> (progress.map(_.commitMs).sum / 1e3, "s"),
        "stream.state_rows" -> (progress.groupBy(_.runId).values.map(_.last.stateRows).sum.toDouble, "count"),
        "jvm.gc_s" -> (gc, "s"),
        "jvm.jit_s" -> (jit, "s"),
        "self.op_s" -> (bySelf("op"), "s"),
        "self.frame_s" -> (bySelf("frame"), "s"),
        "self.sql_s" -> (bySelf("sql"), "s"),
        "self.job_s" -> (bySelf("job"), "s"),
        "self.stage_s" -> (bySelf("stage"), "s"),
        "self.task_s" -> (bySelf("task"), "s"))
    }
  }

  /** Span ids: each kind is numbered in its own range so ids never
    * collide; an op's frame takes the id after its op's. */
  private var opIds = Map.empty[String, Long]
  private def opSpanId(r: OpRecord): Long = opIds(r.id)
  private def frameSpanId(r: OpRecord): Long = opIds(r.id) + 1

  private def buildSpans(recs: Seq[OpRecord], passStart: Double, passEnd: Double): Seq[Span] = {
    val runId = 1L
    val passId = 2L
    val out = Seq.newBuilder[Span]
    out += Span(runId, -1, "run", "", passStart, passEnd)
    out += Span(passId, runId, "pass", "", passStart, passEnd)
    val byGroup = recs.map(r => r.id -> r).toMap
    recs.foreach { r =>
      out += Span(opSpanId(r), passId, s"op:${r.op}", r.id, epochMs(r.start), epochMs(r.end))
      if (!r.op.isBuild)
        out += Span(frameSpanId(r), opSpanId(r), "frame", r.id,
          epochMs(r.frameStart), epochMs(r.frameEnd))
    }
    // Parent of work that started at `t` within op `r`: its frame if the
    // frame was being built then, otherwise the op itself.
    def opOrFrame(r: OpRecord, t: Double): Long =
      if (!r.op.isBuild && t >= epochMs(r.frameStart) && t < epochMs(r.frameEnd))
        frameSpanId(r)
      else opSpanId(r)
    def opAt(t: Double): Option[OpRecord] =
      recs.find(r => t >= epochMs(r.start) && t <= epochMs(r.end))
    def owner(group: Option[String], t: Double): Option[OpRecord] =
      group.flatMap(byGroup.get).orElse(opAt(t))
    val sqlId = (id: Long) => (3L << 40) + id
    val sqlSpans = col.sqls.values.flatMap { s =>
      val parent =
        if (s.root != s.id && col.sqls.contains(s.root)) Some(sqlId(s.root))
        else owner(s.group, s.start.toDouble).map(opOrFrame(_, s.start.toDouble))
      parent.map(p => Span(sqlId(s.id), p, s"sql:${s.id}",
        "", s.start.toDouble, s.end.toDouble))
    }.toSeq
    out ++= sqlSpans
    val liveSql = sqlSpans.map(_.id).toSet
    val jobId = (id: Int) => (4L << 40) + id
    val jobSpans = col.jobs.values.flatMap { j =>
      val parent = j.execId.map(sqlId).filter(liveSql.contains)
        .orElse(owner(j.group, j.start.toDouble).map(opOrFrame(_, j.start.toDouble)))
      parent.map(p => Span(jobId(j.id), p, s"job:${j.id}", "", j.start.toDouble, j.end.toDouble))
    }.toSeq
    out ++= jobSpans
    val liveJobs = jobSpans.map(_.id).toSet
    val stageId = (s: Int, a: Int) => (5L << 40) + s * 100L + a
    val stageSpans = col.stages.values.flatMap { st =>
      col.jobs.values.filter(_.stageIds.contains(st.id)).map(j => jobId(j.id))
        .find(liveJobs.contains).map(p =>
          Span(stageId(st.id, st.attempt), p, s"stage:${st.id}.${st.attempt}", "",
            st.submitted.toDouble, st.completed.toDouble))
    }.toSeq
    out ++= stageSpans
    val liveStages = stageSpans.map(_.id).toSet
    col.tasks.iterator.zipWithIndex.foreach { case (t, i) =>
      val p = stageId(t.stageId, t.attempt)
      if (liveStages.contains(p))
        out += Span((6L << 40) + i, p, "task", "", t.launch.toDouble, t.finish.toDouble)
    }
    out.result()
  }

  private def subtree(spans: Seq[Span], root: Long): Seq[Span] = {
    val kids = spans.groupBy(_.parent)
    def go(id: Long): Seq[Span] = kids.getOrElse(id, Nil).flatMap(s => s +: go(s.id))
    spans.filter(_.id == root) ++ go(root)
  }

  /** The self times of each op's subtree must add up to the op's duration. */
  private def checkSelf(spans: Seq[Span], self: Map[Long, Double], recs: Seq[OpRecord]): Unit =
    recs.foreach { r =>
      val sub = subtree(spans, opSpanId(r))
      val sum = sub.map(s => self.getOrElse(s.id, 0.0)).sum
      val dur = sub.head.end - sub.head.start
      if (math.abs(sum - dur) > 1e-6 * math.max(1.0, dur))
        Main.log(f"self-time check failed for ${r.id}: $sum%.3f ms of $dur%.3f ms")
    }

  private def writeSpans(path: String, spans: Seq[Span], self: Map[Long, Double]): Unit = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val opOf = scala.collection.mutable.Map.empty[Long, String]
    val byId = spans.map(s => s.id -> s).toMap
    def op(s: Span): String = opOf.getOrElseUpdate(s.id,
      if (s.op.nonEmpty) s.op else byId.get(s.parent).map(op).getOrElse(""))
    val lines = spans.map { s =>
      s"""{"id": ${s.id}, "parent": ${s.parent}, "name": ${q(s.name)}, "op": ${q(op(s))}, """ +
        s""""start_ms": ${Main.num(s.start)}, "end_ms": ${Main.num(s.end)}, """ +
        s""""self_ms": ${Main.num(self.getOrElse(s.id, 0.0))}}"""
    }
    val p = Paths.get(path)
    Files.createDirectories(p.toAbsolutePath.getParent)
    Files.writeString(p, lines.mkString("[\n", ",\n", "\n]\n"))
  }
}

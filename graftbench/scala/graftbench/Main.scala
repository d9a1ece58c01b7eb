package graftbench

import com.fasterxml.jackson.databind.JsonNode
import java.io.File
import java.nio.file.Paths
import java.util.SplittableRandom
import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}
import scala.jdk.CollectionConverters._

/** Runs one workload against graft's public API in a fresh JVM and
  * writes the raw measurements (op samples, set-up times, check
  * payloads and, with `--trace 1`, spans plus Spark job/task records)
  * as one JSON file. `run.py` turns them into metrics.
  *
  *   graftbench.Main --workload serve|dedup --seed N --seconds S
  *     --trace 0|1 --inputs DIR --work DIR --out FILE
  *
  * Untraced: set-up SetupReps times, warm up, then the timed closed loop
  * for S seconds (whole rounds). Traced: the same set-up (traced) and
  * loop, then as many ops again traced (and, for a replayable workload,
  * the same ops untraced once more), so the trace overhead is measured
  * on comparable work.
  */
object Main {
  val SetupReps = 2

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val startMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    def phase(what: String): Unit = System.err.println(
      f"[graftbench] $what at ${(System.currentTimeMillis() - startMs) / 1e3}%.1f s")
    val spark = graft.LocalSession.build()
    phase("session")
    val listener = new WorkListener
    if (trace) spark.sparkContext.addSparkListener(listener)
    val tracer = new Tracer(trace)
    // session warm-up, as graft.Bench does: JIT the scan, codegen and
    // shuffle paths once so set-up rep 0 is not all class loading
    spark.range(1000000).selectExpr("sum(id)").collect()

    val meta = Json.mapper.readTree(new File(s"${a("inputs")}/meta.json"))
    val ctx = new Ctx(spark, tracer, meta, a("inputs"), a("work"))
    val wl: Workload = a("workload") match {
      case "serve" => new Serve(ctx)
      case "dedup" => new Dedup(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    val setupS = (0 until SetupReps).map { i =>
      tracer.op = -1 - i
      val t0 = System.nanoTime()
      wl.setup(s"${ctx.work}/setup$i")
      val s = (System.nanoTime() - t0) / 1e9
      if (i > 0) Files2.deleteTree(s"${ctx.work}/setup${i - 1}")
      s
    }
    tracer.on = false
    phase("setup")

    // first outcome per op key; its check entries are built after the loop
    val checks = LinkedHashMap[String, Outcome]()

    def runOps(ops: Iterator[Op], deadlineNs: Long, keep: ArrayBuffer[Op]): ArrayBuffer[Sample] = {
      val out = ArrayBuffer[Sample]()
      while (ops.hasNext && (System.nanoTime() < deadlineNs || out.size % wl.round != 0)) {
        val op = ops.next()
        keep += op
        tracer.op = out.size
        op.before()
        val t0 = System.nanoTime()
        val res =
          try Right(tracer.span(op.span) {
            try op.run() finally graft.api.CacheScope.global.release(blocking = true)
          })
          catch { case e: Throwable => Left(e) }
        val sec = (System.nanoTime() - t0) / 1e9
        val sample = res match {
          case Right(o) =>
            if (!checks.contains(op.key)) checks(op.key) = o
            val err = try op.after(o) catch { case e: Throwable => Some(s"after: $e") }
            Sample(op.span, op.kind, op.key, sec, err.isEmpty, err.getOrElse(""), o.rows)
          case Left(e) =>
            System.err.println(s"[graftbench] ${op.span} ${op.key} FAILED: $e")
            Sample(op.span, op.kind, op.key, sec, ok = false, e.toString, 0)
        }
        out += sample
      }
      out
    }

    val rng = new SplittableRandom(seed)
    val warm = runOps(wl.warmupOps(rng).iterator, Long.MaxValue, ArrayBuffer[Op]())
    phase("warmup")
    val stream = wl.ops(rng)
    val firstOpMs = System.currentTimeMillis()
    val done = ArrayBuffer[Op]()
    val t0 = System.nanoTime()
    val (samples, untraced) =
      if (!trace) (runOps(stream, t0 + (seconds * 1e9).toLong, done), ArrayBuffer[Sample]())
      else {
        // the untraced loop, then as many ops again traced: the same ops
        // when the workload can replay them, else the next ones. A
        // replay runs warmer than the loop's first pass, so replayed ops
        // are timed untraced once more, after the traced ones.
        val plain = runOps(stream, t0 + (seconds * 1e9).toLong, done)
        tracer.on = true
        val traced = runOps(if (wl.replayable) done.iterator else stream.take(plain.size),
          Long.MaxValue, ArrayBuffer[Op]())
        tracer.on = false
        (traced, if (wl.replayable) runOps(done.iterator, Long.MaxValue, ArrayBuffer[Op]()) else plain)
      }
    val loopS = (System.nanoTime() - t0) / 1e9
    phase("loop")

    val extra = ctx.json.objectNode()
    val checkArr = ctx.json.arrayNode()
    checks.foreach { case (key, o) => o.checks().foreach(c => checkArr.add(c.put("key", key))) }
    wl.finish(checkArr, extra)
    if (trace) listener.drain()
    phase("finish")

    val out = ctx.json.objectNode()
    out.put("workload", a("workload")).put("seed", seed).put("trace", trace)
      .put("cpus", spark.sparkContext.defaultParallelism)
      .put("loop_s", loopS)
      .put("process_to_first_op_s", (firstOpMs - startMs) / 1e3)
      .put("peak_rss_mb", peakRssMb())
    val st = out.putArray("setup_s"); setupS.foreach(s => st.add(s))
    def sampleArr(name: String, ss: Seq[Sample]): Unit = {
      val arr = out.putArray(name)
      ss.foreach { s =>
        arr.addObject().put("span", s.span).put("kind", s.kind).put("key", s.key)
          .put("s", s.seconds).put("ok", s.ok).put("error", s.error).put("rows", s.rows)
      }
    }
    sampleArr("samples", samples.toSeq)
    sampleArr("samples_untraced", untraced.toSeq)
    sampleArr("samples_warmup", warm.toSeq)
    out.set[JsonNode]("checks", checkArr)
    out.set[JsonNode]("extra", extra)
    if (trace) {
      val sp = out.putArray("spans")
      tracer.spans.foreach { s =>
        sp.addObject().put("id", s.id).put("name", s.name).put("parent", s.parent)
          .put("op", s.op).put("start_ms", s.startMs).put("end_ms", s.endMs)
          .put("dur_s", (s.endNs - s.startNs) / 1e9)
      }
      val js = out.putArray("jobs")
      listener.jobs.asScala.foreach { j =>
        val o = js.addObject().put("id", j.id).put("submit_ms", j.submitMs)
        val ss = o.putArray("stages"); j.stages.foreach(s => ss.add(s))
      }
      val ts = out.putArray("tasks")
      listener.tasks.asScala.foreach { t =>
        ts.addArray().add(t.stage).add(t.launchMs).add(t.finishMs).add(t.recordsRead)
          .add(t.shuffleWriteBytes).add(t.shuffleWriteRecords).add(t.spillBytes).add(t.bytesWritten)
      }
    }
    Json.write(Paths.get(a("out")), out)
    spark.stop()
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}

/** Loads the classes every run needs (session, parquet write and read,
  * shuffle, join, graft's extensions) and exits; run with
  * `-XX:ArchiveClassesAtExit` it leaves the class-data archive the
  * measured runs map.
  *
  *   graftbench.ClassDump DIR
  */
object ClassDump {
  def main(args: Array[String]): Unit = {
    val spark = graft.LocalSession.build()
    val df = spark.range(100000).selectExpr("id", "id % 97 AS k", "md5(cast(id AS string)) AS s")
    df.write.parquet(s"${args(0)}/t")
    val t = spark.read.parquet(s"${args(0)}/t")
    t.groupBy("k").count().join(t, "k").selectExpr("sum(count)").collect()
    spark.stop()
  }
}

package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark's JVM side: one workload, one session, a closed loop
  * of steps that each call one public function of graft.raster,
  * graft.catalog or graft.pipeline and end in an action on that call's
  * own output.
  *
  * Pass 0 is the untimed warm-up: every step writes its output as
  * parquet under `<out>/check/<step>` for the reference checks that
  * run after the JVM exits. The timed passes that follow write to the
  * noop sink, as graft.Bench does, until `--seconds` have elapsed.
  *
  * Usage: Harness --workload W --data DIR --out DIR --seconds S
  *        --trace 0|1 [--param k=v ...]
  */
object Harness {

  /** Task slots: one core of the four is left to the driver thread, GC
    * and JIT, which keeps pass times steadier than local[4]. */
  val Slots = 3

  final case class Conf(workload: String, data: String, out: String, seconds: Double,
                        trace: Boolean, params: Map[String, String])

  def parse(args: Array[String]): Conf = {
    val kv = mutable.Map.empty[String, String]
    val params = mutable.Map.empty[String, String]
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--param" =>
          val Array(k, v) = args(i + 1).split("=", 2)
          params(k) = v; i += 2
        case flag if flag.startsWith("--") && i + 1 < args.length =>
          kv(flag.drop(2)) = args(i + 1); i += 2
        case other => throw new IllegalArgumentException(s"unexpected argument $other")
      }
    }
    Conf(kv("workload"), kv("data"), kv("out"), kv("seconds").toDouble, kv("trace") == "1",
      params.toMap)
  }

  /** The session graft.Bench builds: local[n], GraftExtensions, Kryo. */
  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Slots]")
      .config("spark.sql.shuffle.partitions", Slots.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.ui.enabled", "false")
      .withExtensions(new org.apache.spark.sql.graft.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Lets the JIT drain the compilations the warm-up pass queued, so
    * the first timed pass does not race them: waits until the total
    * compilation time stops growing for 300 ms (at most 3 s). */
  private def awaitJit(): Unit = {
    val jit = ManagementFactory.getCompilationMXBean
    val deadline = System.nanoTime() + 3000000000L
    var last = -1L
    while (jit.getTotalCompilationTime != last && System.nanoTime() < deadline) {
      last = jit.getTotalCompilationTime
      Thread.sleep(300)
    }
  }

  def main(args: Array[String]): Unit = {
    val conf = parse(args)
    val spark = session()
    val workload = Workloads(conf.workload, spark, conf.data, conf.params)
    // inputs located: the parquet footers of every input are read here
    println(s"PERFBENCH_READY ${System.currentTimeMillis()}")

    val rec = new Recorder(conf.trace)
    spark.sparkContext.addSparkListener(rec)
    if (conf.trace) spark.listenerManager.register(rec.scans)
    val outDir = Paths.get(conf.out)
    Files.createDirectories(outDir)
    val runner = new Runner(spark, rec, outDir)
    Speed.start()
    if (conf.params.contains("oracles"))
      Json.mapper.writeValue(outDir.resolve("oracles.json").toFile,
        ListMap(conf.params("oracles").split(",").toSeq.map(q => q -> graft.SparkEntry.oracleSql(q)): _*))

    runner.pass(workload, 0, check = true, timed = false)
    val warmup = conf.params.getOrElse("warmup", "0").toInt
    (1 to warmup).foreach(i => runner.pass(workload, i, check = false, timed = false))
    awaitJit()
    val t0 = System.nanoTime()
    var n = 0
    while (n == 0 || (System.nanoTime() - t0) / 1e9 < conf.seconds) {
      n += 1
      runner.pass(workload, warmup + n, check = false, timed = true)
    }
    Json.mapper.writeValue(outDir.resolve("result.json").toFile, runner.result)
    if (conf.trace) rec.writeSpans(outDir.resolve("spans.jsonl"), runner.spans.toSeq)
    System.out.flush()
    // halt skips Spark's shutdown hooks: the run directory holding the
    // session's scratch files is deleted by the caller anyway
    Runtime.getRuntime.halt(0)
  }
}

/** Samples how fast the shared box runs while the passes run: a daemon
  * thread times a fixed compute kernel on its own CPU clock every 20 ms.
  * The kernel calls no program code and its data stays in the core's
  * cache, so its time moves with the host (other tenants on the same
  * physical cores and caches, clock frequency). CPU time leaves out the
  * waits while the JVM's own threads or a GC pause hold the thread off
  * its core, so the program's own load hardly moves it. `pass_ref_s`
  * scales each timed pass by it. */
object Speed extends Thread("perfbench-speed") {
  setDaemon(true)

  /** Kernel time of the reference box that `pass_ref_s` is expressed on. */
  val RefMs = 1.0

  /** (end of the sample in System.nanoTime, kernel CPU ns) */
  private val samples = mutable.ArrayBuffer.empty[(Long, Long)]
  /** Takes each kernel result, so the JIT cannot drop the kernel. */
  @volatile private var sink = 0L

  private def kernel(buf: Array[Int], seed: Int): Long = {
    var x = seed
    var acc = 0L
    var i = 0
    val mask = buf.length - 1
    while (i < 300000) {
      x = x * 1103515245 + 12345
      val j = (x >>> 8) & mask
      buf(j) += i
      acc += buf((j * 7 + 3) & mask)
      i += 1
    }
    acc
  }

  override def run(): Unit = {
    val cpu = ManagementFactory.getThreadMXBean
    val buf = new Array[Int](1 << 16)
    var seed = 1
    while (true) {
      val c0 = cpu.getCurrentThreadCpuTime
      sink ^= kernel(buf, seed)
      val c1 = cpu.getCurrentThreadCpuTime
      val end = System.nanoTime()
      synchronized { samples += ((end, c1 - c0)) }
      seed += 1
      Thread.sleep(20)
    }
  }

  /** Median kernel CPU time, in ms, of the samples taken from `from`
    * to `to` (System.nanoTime). */
  def medianMs(from: Long, to: Long): Double = synchronized {
    val in = samples.iterator.filter(s => s._1 >= from && s._1 <= to).map(_._2).toArray.sorted
    require(in.nonEmpty, "no speed sample during the pass")
    in(in.length / 2) / 1e6
  }
}

/** One pass's context: a workload calls [[step]] once per step, in order. */
final class Pass(val index: Int, val check: Boolean, val dir: Path, runner: Runner) {
  /** Results of this pass's steps, kept reachable until the pass ends. */
  val held = mutable.ArrayBuffer.empty[Any]

  /** Runs `body` as the step `name` and forces each DataFrame it
    * returned (a layer's tiles, a frame, or none for a write) with one
    * action: a parquet write on the check pass, the noop sink
    * otherwise. None when the step threw. */
  def step[A](name: String)(body: => A): Option[A] = {
    val r = runner.runStep(this, name, () => body)
    r.foreach(held += _)
    r
  }

  /** A step on an earlier step's result; counted as failed when that
    * step failed, so every pass attempts the same steps. */
  def stepOn[U, A](in: Option[U], name: String)(f: U => A): Option[A] = in match {
    case Some(u) => step(name)(f(u))
    case None => runner.skip(this, name); None
  }
}

final case class Span(name: String, kind: String, parent: String, start: Long, end: Long)

final class Runner(spark: SparkSession, rec: Recorder, outDir: Path) {
  private val sc = spark.sparkContext
  private val memBean = ManagementFactory.getMemoryMXBean
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  val spans = mutable.ArrayBuffer.empty[Span]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  /** per timed pass: metric name -> value */
  val passMetrics = mutable.ArrayBuffer.empty[mutable.LinkedHashMap[String, Double]]
  private var cur: mutable.LinkedHashMap[String, Double] = _

  private def gcMillis: Long = gcBeans.map(_.getCollectionTime).filter(_ >= 0).sum

  private def frames(a: Any): Seq[DataFrame] = a match {
    case df: DataFrame => Seq(df)
    case l: graft.raster.RasterLayer => Seq(l.df)
    case (x, y) => frames(x) ++ frames(y)
    case _ => Nil
  }

  def runStep[A](p: Pass, name: String, body: () => A): Option[A] = {
    attempted += 1
    sc.setJobGroup(name, name, interruptOnCancel = false)
    rec.stepStarted(name)
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val res =
      try {
        val out = body()
        frames(out).zipWithIndex.foreach { case (df, i) =>
          if (p.check) df.write.mode("overwrite").parquet(p.dir.resolve(s"$name.$i").toString)
          else df.write.format("noop").mode("overwrite").save()
        }
        Some(out)
      } catch {
        case e: Throwable =>
          failed += 1
          failures += s"pass ${p.index} $name: ${e.getClass.getName}: ${e.getMessage}".take(2000)
          None
      }
    val secs = (System.nanoTime() - t0) / 1e9
    sc.clearJobGroup()
    rec.stepEnded(sc)
    if (cur != null) cur(s"$name.s") = secs
    spans += Span(name, "step", s"pass${p.index}", ms0, System.currentTimeMillis())
    res
  }

  def skip(p: Pass, name: String): Unit = {
    attempted += 1
    failed += 1
    failures += s"pass ${p.index} $name: skipped, its input step failed"
  }

  /** One pass: the check pass writes its outputs for the checks, the
    * others use the noop sink; only timed passes are recorded. */
  def pass(w: Workload, index: Int, check: Boolean, timed: Boolean): Unit = {
    val dir = outDir.resolve(if (check) "check" else s"pass$index")
    Files.createDirectories(dir)
    cur = if (timed) mutable.LinkedHashMap.empty[String, Double] else null
    // the block removals of the previous pass's clean-up must reach the
    // recorder before this pass's block peak starts from its level
    org.apache.spark.PerfbenchBus.drain(sc)
    rec.startPass()
    val gc0 = gcMillis
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val p = new Pass(index, check, dir, this)
    w.run(p)
    val secs = (System.nanoTime() - t0) / 1e9
    val ms1 = System.currentTimeMillis()
    val gcSecs = (gcMillis - gc0) / 1e3
    // live heap at the end of the pass, while every step output (and
    // the blocks they cached or checkpointed) is still referenced: the
    // pause lets Spark's ContextCleaner drop the blocks of RDDs the first
    // collection found unreachable, so the second reads live data only
    System.gc()
    Thread.sleep(300)
    System.gc()
    val endBytes = memBean.getHeapMemoryUsage.getUsed
    spans += Span(s"pass$index", "pass", "", ms0, ms1)
    org.apache.spark.PerfbenchBus.drain(sc)
    // plus the RDD blocks (per-round checkpoints, for example) a step
    // held and released inside the pass; heap use read after the JVM's
    // own collections would instead depend on when G1 reclaims its old
    // generation
    val heapBytes = endBytes + rec.blocksReleasedBytes
    if (timed) {
      val speed = Speed.medianMs(t0, t0 + (secs * 1e9).toLong)
      cur("pass_s") = secs
      cur("speed_ms") = speed
      cur("pass_ref_s") = secs * Speed.RefMs / speed
      cur("heap_live_mb") = heapBytes / 1048576.0
      cur("shuffle_mb") = rec.passShuffleBytes / 1048576.0
      cur("spark.gc_s") = gcSecs
      rec.passMetrics(ms0, ms1).foreach { case (k, v) => cur(k) = v }
      w.passMetrics(dir).foreach { case (k, v) => cur(k) = v }
      passMetrics += cur
    }
    p.held.clear() // the outputs stayed reachable until the heap reading above
    // isolate passes as graft.Bench isolates queries
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    if (!check) Workloads.deleteTree(dir)
    System.gc()
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def result: ListMap[String, Any] = {
    val keys = passMetrics.flatMap(_.keys).distinct
    ListMap(
      "attempted" -> attempted,
      "failed" -> failed,
      "failures" -> failures.toSeq,
      "passes" -> passMetrics.size,
      "pass_s" -> passMetrics.map(_("pass_s")).toSeq,
      "heap_live_peak_mb" -> passMetrics.map(_("heap_live_mb")).max,
      "median" -> ListMap(keys.map(k => k -> median(passMetrics.map(_.getOrElse(k, 0.0)).toSeq)).toSeq: _*))
  }
}

/** The JSON writer of the Jackson library that Spark ships, with the
  * Scala module so that Scala maps and sequences serialise as they are. */
object Json {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)
}

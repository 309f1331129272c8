package perfbench

import java.io.File

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.perfbench.Internals

/** One op of a workload's closed loop: the next one is issued only after
  * this one has returned. `body` returns the op's output for the untimed
  * checks; `rowsIn` counts the input rows it consumes, `storeInBytes`
  * the input parquet bytes it adds to the run's stores and `targets` the
  * directories it writes.
  */
final case class Op(name: String, kind: String, rowsIn: Long,
    storeInBytes: Long, targets: Seq[String], body: () => Unit)

/** A workload: set-up (warm-up and initial stores), a seeded op stream and
  * the output checks that run after the loop.
  */
trait Workload {
  def setup(): Unit
  def next(i: Int): Op
  /** Failed op indices with their reason; index -1 is the final state. */
  def check(): Seq[(Int, String)]
  def storeDirs: Seq[String]
  /** Input parquet bytes the set-up loaded into the stores. */
  def setupStoreInBytes: Long = 0L
  /** The loop ends on a multiple of this many ops, so every run holds
    * whole cycles of the workload's op mix.
    */
  def cycle: Int = 1
}

final case class Ctx(spark: SparkSession, seed: Long, inputs: String,
    dir: String, tracer: Tracer)

/** Closed-loop, one-client driver of one workload run:
  *
  * {{{
  * perfbench.Main --workload W --seed N --seconds T --trace 0|1
  *   --inputs DIR --root DIR --out FILE --cores K
  * }}}
  *
  * Sets up three times (the last set-up serves the loop), issues ops for at
  * least T seconds and up to the end of the workload's op cycle, checks
  * every output, and writes the raw run record to FILE.
  */
object Main {
  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 3

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val root = a("root")
    val cores = a("cores").toInt
    Env.start()

    val tracer = new Tracer(trace)
    val listener = if (trace) Some(new OpListener) else None
    val setupS = mutable.ArrayBuffer.empty[Double]
    val sessionStartMs = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var wl: Workload = null
    for (k <- 0 until Setups) {
      if (spark != null) { spark.stop(); deleteTree(new File(s"$root/setup_${k - 1}")) }
      val dir = s"$root/setup_$k"
      val t0 = System.nanoTime()
      spark = graft.Session.builder(s"perfbench-$workload", Some(s"local[$cores]"), Some(cores))
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$root/spark-local")
        .config("spark.sql.warehouse.dir", s"$root/warehouse")
        .getOrCreate()
      sessionStartMs += (System.nanoTime() - t0) / 1e6
      spark.sparkContext.setLogLevel("WARN")
      listener.foreach(spark.sparkContext.addSparkListener)
      wl = Workloads(workload, Ctx(spark, seed, a("inputs"), dir, tracer))
      wl.setup()
      setupS += (System.nanoTime() - t0) / 1e9
    }

    // only jobs that start while the loop runs count as unattributed
    listener.foreach { l => Internals.drainListenerBus(spark.sparkContext); l.unattributedJobs.set(0L) }
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val outcome = mutable.HashMap.empty[Int, String]
    val loop0 = System.nanoTime()
    val deadline = loop0 + (seconds * 1e9).toLong
    var i = 0
    while (System.nanoTime() < deadline || i % wl.cycle != 0) {
      val op = wl.next(i)
      val counters = new OpCounters
      val gc0 = Env.gcMs(); val steal0 = Env.stealTicks(); val stall0 = Env.stallNanos.get()
      val before = if (trace) op.targets.map(dirListing).fold(Map.empty)(_ ++ _) else Map.empty[String, Long]
      listener.foreach(_.open(counters, System.currentTimeMillis()))
      val t0 = System.nanoTime()
      tracer.begin(t0)
      val epoch0 = System.currentTimeMillis()
      try op.body()
      catch { case e: Throwable => outcome(i) = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500) }
      val wallMs = (System.nanoTime() - t0) / 1e6
      val rec = mutable.LinkedHashMap[String, Any](
        "i" -> i, "name" -> op.name, "kind" -> op.kind,
        "start_ms" -> (t0 - loop0) / 1e6, "wall_ms" -> wallMs,
        "rows_in" -> op.rowsIn, "store_in_bytes" -> op.storeInBytes,
        "steal_ticks" -> (if (steal0 < 0) -1L else Env.stealTicks() - steal0),
        "stall_ms" -> (Env.stallNanos.get() - stall0) / 1e6)
      listener.foreach { l =>
        Internals.drainListenerBus(spark.sparkContext)
        l.close()
        val c = counters
        val added = op.targets.map(dirListing).fold(Map.empty)(_ ++ _)
          .filter { case (p, n) => !before.get(p).contains(n) }
        val (files, bytes) = (added.size.toLong, added.values.sum)
        rec ++= Seq(
          "jobs" -> c.jobs.map { case (s, e) => Seq(s - epoch0, e - epoch0) },
          "spark.stages" -> c.stagesRun,
          "spark.stages_skipped" -> (c.stagesListed - c.stagesRun),
          "spark.tasks" -> c.tasks, "spark.tasks_failed" -> c.tasksFailed,
          "spark.task_ms" -> c.taskMs, "spark.task_cpu_ms" -> c.taskCpuNs / 1e6,
          "spark.sched_delay_ms" -> c.schedDelayMs,
          "spark.shuffle_write_bytes" -> c.shuffleWriteBytes,
          "spark.shuffle_read_bytes" -> c.shuffleReadBytes,
          "spark.shuffle_fetch_wait_ms" -> c.fetchWaitMs,
          "spark.spill_bytes" -> c.spillBytes,
          "spark.input_bytes" -> c.inputBytes, "spark.input_records" -> c.inputRecords,
          "spark.task_gc_ms" -> c.taskGcMs, "spark.plan_ms" -> c.planMs,
          "spark.sql_executions" -> c.sqlExecutions,
          "io.files_written" -> files, "io.bytes_written" -> bytes,
          "spans" -> tracer.take())
      }
      rec ++= Seq("jvm.gc_ms" -> (Env.gcMs() - gc0), "jvm.heap_after_mb" -> Env.heapUsedMb())
      ops += rec.toMap
      i += 1
    }
    val loopS = (System.nanoTime() - loop0) / 1e9
    val rssPeak = Env.rssPeakMb()
    val unattributed = listener.map(_.unattributedJobs.get()).getOrElse(0L)

    val check0 = System.nanoTime()
    val checkErrors =
      try wl.check()
      catch { case e: Throwable => Seq(-1 -> s"check crashed: ${e.getClass.getSimpleName}: ${e.getMessage}") }
    checkErrors.foreach { case (j, why) => if (j >= 0) outcome.getOrElseUpdate(j, s"wrong output: $why") }
    val checkS = (System.nanoTime() - check0) / 1e9
    val finalOps = ops.map(r => r + ("ok" -> !outcome.contains(r("i").asInstanceOf[Int])) +
      ("error" -> outcome.get(r("i").asInstanceOf[Int])))

    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "cores" -> cores, "trace" -> trace,
      "loop" -> s"closed, 1 client, local[$cores]",
      "setup_s" -> setupS, "session_start_ms" -> sessionStartMs,
      "loop_s" -> loopS, "check_s" -> checkS, "rss_peak_mb" -> rssPeak,
      "final_state_errors" -> checkErrors.filter(_._1 < 0).map(_._2),
      "store_dirs" -> wl.storeDirs, "setup_store_in_bytes" -> wl.setupStoreInBytes,
      "unattributed_jobs" -> unattributed,
      "ops" -> finalOps)
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new File(a("out")), record)
    spark.stop()
  }

  /** Data files under `dir` with their sizes (the before/after listing of
    * an op's target).
    */
  def dirListing(dir: String): Map[String, Long] = {
    val root = new File(dir)
    if (!root.exists()) Map.empty
    else {
      val out = mutable.HashMap.empty[String, Long]
      def walk(f: File): Unit =
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
        else if (!f.getName.startsWith(".")) out(f.getPath) = f.length()
      walk(root)
      out.toMap
    }
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete(): Unit
  }
}

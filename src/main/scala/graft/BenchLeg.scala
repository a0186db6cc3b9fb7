package graft

import org.apache.spark.sql.SparkSession

/** One pipeline leg of the scaling benchmark, run in its OWN JVM (forked
  * by [[Bench]], pinned with `taskset` to exactly `cores` CPUs and
  * started with `-XX:ActiveProcessorCount=cores`).
  *
  * Why a fresh pinned JVM per leg — this is the faithful sandbox stand-in
  * for the north rule's "spark-submit at N and 4N executors":
  *  - an N-executor cluster has N cores TOTAL: GC, JIT and Spark's
  *    auxiliary threads compete for them. In a shared 32-core JVM the
  *    local[1] leg free-rides ~31 idle cores for GC/JIT, understating
  *    its true 1-core cost and deflating the measured efficiency;
  *  - a long-lived bench JVM accumulates codegen classes, metaspace and
  *    old-gen pressure from earlier queries, inflating whichever leg
  *    runs later (the r2 driver run's local[4] leg was 2× the same
  *    config in a fresh JVM).
  *
  * args: pagesPath dumpPath workDir cores. Every leg runs the same full
  * warmup and JIT settle, then ONE measured run: a second in-JVM pass
  * was measured not to run warm (Spark generates fresh whole-stage-codegen
  * classes every run, so each pass re-JITs them: 24k 1-core pass 1
  * 94.3 s / 83.9 s jit, pass 2 110.5 s / 80.9 s jit), so fresh-JVM
  * rounds are the samples. Prints ONE JSON contract line parsed by Bench:
  * {"cores":N,"sec":S,"triples":T,"task_sec":A,"gc_sec":G,"jit_sec":J,
  *  "warmup_sec":W}
  * where sec (wall for Pipeline.run + triples count, after the session
  * is up — cluster-size comparisons should not include JVM/session
  * boot) is the measurement and the rest is regime evidence: task_sec
  * near-parity across legs shows the job does the same work at both
  * cluster sizes (a residual wall-ratio gap is then shared single-box
  * memory bandwidth, not poor parallelism), gc/jit attribute any wall
  * residue; warmup_sec includes the JIT settle.
  */
object BenchLeg {

  /** RAM-backed scratch root for bench corpora, stage workdirs and Spark
    * local dirs (shuffle files, spills, localCheckpoint disk tier).
    *
    * Why not /tmp: on a real N-executor cluster every executor brings its
    * own local NVMe — scratch bandwidth SCALES with cluster size. This
    * sandbox has one shared virtio disk whose measured throughput is both
    * slower than tmpfs (~0.4-0.7 vs ~2.5 GB/s) and drifts ~1.7× between
    * consecutive identical writes; leaving scratch on it makes the leg
    * comparison measure the disk's minute-to-minute mood, not the job
    * (measured: the identical pinned 4-core leg 145-295 s on disk vs
    * 117 s on tmpfs, with task-seconds inflating in step). RAM-backed
    * scratch restores the per-executor-scaling property the N-vs-4N
    * comparison assumes. tmpfs is typically capped at 50% RAM and must
    * hold the 384k corpus plus shuffle/spill, so /dev/shm is only chosen
    * when it has comfortable headroom (ENOSPC mid-leg on a tight box
    * would be worse than the disk's drift). Override with
    * SPARK_GRAFT_BENCH_SCRATCH. */
  private[graft] lazy val scratchRoot: String =
    sys.env.getOrElse("SPARK_GRAFT_BENCH_SCRATCH", {
      val shm = new java.io.File("/dev/shm")
      val needBytes = 16L << 30 // corpus + shuffle/spill, with room to spare
      val root =
        if (shm.isDirectory && shm.canWrite && shm.getUsableSpace >= needBytes)
          "/dev/shm"
        else System.getProperty("java.io.tmpdir", "/tmp")
      System.err.println(s"[bench] scratch root: $root")
      root
    })

  /** Delete scratch left by a SIGKILLed prior run (shutdown hooks don't
    * fire on SIGKILL, and stale tmpfs dirs pin RAM until reboot). Called
    * once at Bench startup, before this run's own dirs exist; the driver
    * runs one bench at a time, so any matching dir is dead. */
  private[graft] def sweepStaleScratch(): Unit = {
    val self = s"-${ProcessHandle.current().pid()}"
    val fs = Option(new java.io.File(scratchRoot).listFiles()).getOrElse(Array.empty)
    fs.foreach { f =>
      val n = f.getName
      if ((n.startsWith("graft-bench-") || n.startsWith("graft-leg-local-"))
          && !n.endsWith(self)) {
        System.err.println(s"[bench] sweeping stale scratch ${f.getPath}")
        try scala.reflect.io.Directory(f).deleteRecursively()
        catch { case _: Exception => }
      }
    }
  }

  /** Leg-level diagnostics: where did the wall go — mutator task time,
    * GC, or JIT compilation still running inside the timed window? The
    * figures ride the contract line as regime evidence and go to stderr.
    * Counter windows are made exact by draining the async listener bus
    * at both edges (GraftListenerBridge). */
  private final class Diag(spark: SparkSession) {
    @volatile private var taskSec = 0.0
    @volatile private var gcSec = 0.0
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val m = sc.stageInfo.taskMetrics
          taskSec += m.executorRunTime / 1e3
          gcSec += m.jvmGCTime / 1e3
        }
      })
    /** Run `f`, returning its result, wall, task, GC and JIT seconds. */
    def window[T](tag: String)(f: => T): (T, Double, Double, Double, Double) = {
      org.apache.spark.GraftListenerBridge.drainListeners(spark.sparkContext)
      taskSec = 0.0; gcSec = 0.0
      val (jit0, t0) = (totalJitMs, System.nanoTime())
      val r = f
      val wall = (System.nanoTime() - t0) / 1e9
      org.apache.spark.GraftListenerBridge.drainListeners(spark.sparkContext)
      val jit = (totalJitMs - jit0) / 1e3
      System.err.println(f"[bench-leg] $tag wall=$wall%.1f taskSec=$taskSec%.1f " +
        f"gcSec=$gcSec%.1f jitSec=$jit%.1f")
      (r, wall, taskSec, gcSec, jit)
    }
  }

  private def totalJitMs: Long =
    java.lang.management.ManagementFactory.getCompilationMXBean
      .getTotalCompilationTime

  /** Drain the JIT compile queue OUTSIDE the timed window: idle the
    * mutator in 3 s slices until the compiler threads go quiet (<0.8 s
    * of compiler time per slice) or `capSec` elapses. Rationale: a
    * warmup pass triggers the compilations, but the background compiler
    * queue keeps burning CPU after the pass returns — on a pinned
    * 1-core leg those threads then steal the core from the mutator
    * INSIDE the measured window. Measured (dress 3, throttled host
    * hour): 126 s of in-window compiler time on the 1-core 24k leg
    * after a completed full warmup (wall 133.8 s vs 84-91 s in quiet
    * hours), and the 4-core leg's [75, 28] s run spread was entirely
    * in-window JIT. While the mutator sleeps the compiler has the
    * pinned core to itself, so the queue drains at full speed; both
    * legs run the same settle, and a real cluster's long-running warm
    * executors have no in-window JIT at all. */
  private def settleJit(capSec: Double): Unit = {
    val t0 = System.nanoTime()
    var last = totalJitMs
    var quiet = false
    while (!quiet && (System.nanoTime() - t0) / 1e9 < capSec) {
      Thread.sleep(3000)
      val now = totalJitMs
      quiet = now - last < 800
      last = now
    }
  }

  def main(args: Array[String]): Unit = try {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val Array(pagesPath, dumpPath, workDir, coresStr) = args
    val cores = coresStr.toInt
    // per-run shuffle/spill dir inside workDir: RAM-backed and deleted
    // with the rest of the run's scratch by Bench; the 16 shuffle
    // partitions are the same at both core counts (see Sessions)
    val spark = Sessions.local(cores, Some(s"$workDir/_sparklocal"))
    val diag = new Diag(spark)
    def pages = spark.read.parquet(pagesPath)
    def dump = spark.read.parquet(dumpPath)
    // JIT/classload warmup: one pipeline run over a tiny slice of the
    // same inputs (same code paths, negligible data). A fresh JVM
    // otherwise spends ~30-60 s compiling the Spark stack + generated
    // code INSIDE the timed window — a fixed cost that lands in the
    // parallelism-independent floor and corrupts the N-vs-4N comparison
    // (executors on a real cluster are warm long-running JVMs). The
    // settle cap is a safety valve, not a budget: every observed settle
    // finished quiet in one 3 s slice, and a capped-out settle would
    // leave residual JIT asymmetrically inside the 1-core window.
    val (_, warmSec, _, _, _) = diag.window("warmup") {
      try graft.kg.Pipeline.run(spark, pages.limit(800), dump.limit(300),
        s"$workDir-warmup").triples.count()
      catch { case e: Exception =>
        System.err.println(s"[bench-leg] warmup failed (non-fatal): $e")
      } finally {
        scala.reflect.io.Directory(new java.io.File(s"$workDir-warmup")).deleteRecursively()
      }
      settleJit(150.0)
    }
    // the measured run gets its own stage dir so the warmup's
    // _COMMITTED resume markers cannot leak work into it (and no
    // .cache()/.persist() exists in the pipeline for CacheManager to
    // match across runs — verified)
    val (nTriples, sec, taskSec, gcSec, jitSec) =
      diag.window("main") {
        graft.kg.Pipeline.run(spark, pages, dump, s"$workDir/run").triples.count() }
    spark.stop()
    // the contract line (object header)
    println(f"""{"cores":$cores,"sec":$sec%.3f,"triples":$nTriples,"task_sec":$taskSec%.1f,"gc_sec":$gcSec%.1f,"jit_sec":$jitSec%.1f,"warmup_sec":$warmSec%.1f}""")
  } catch {
    case e: Throwable =>
      // a SIGTERM'd leg runs its shutdown hooks (which stop the
      // SparkContext) while main is still mid-pipeline; the resulting
      // "stopped SparkContext" throw is teardown noise, not a failure —
      // keep the parent's inherited stderr (and the driver's recorded
      // tail window) free of stack traces. The JVM's signal handler owns
      // the exit code (143), so the parent still classifies the kill.
      // A genuine failure with NO shutdown in progress rethrows loudly.
      val shuttingDown =
        try {
          val probe = new Thread(() => ())
          Runtime.getRuntime.addShutdownHook(probe)
          Runtime.getRuntime.removeShutdownHook(probe)
          false
        } catch { case _: IllegalStateException => true }
      if (shuttingDown)
        System.err.println(
          s"[bench-leg] aborting (JVM shutdown in progress): ${e.getMessage}")
      else throw e
  }
}

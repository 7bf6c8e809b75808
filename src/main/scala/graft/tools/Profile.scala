package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener
import graft.{Sessions, SparkEntry}

/** Dev profiler for named SparkEntry queries —
  * `runMain graft.tools.Profile <q1,q2,...> [reps=3] [--conf k=v]... [--plan <dir>]`
  * against `SPARK_GRAFT_SF_DIR` at `SPARK_GRAFT_CPUS`.
  *
  * Each rep runs `SparkEntry.queries(q)(spark, dir).count()`, then
  * `spark.catalog.clearCache()` (Bench's method: every rep repopulates its
  * own persists), and prints one `[profile]` stderr line: wall time, `n`,
  * the analysis/optimization/planning time of the rep's query executions
  * (`QueryPlanningTracker` phases), and the counters of every job it ran —
  * jobs, stages, tasks, input, shuffle-write, shuffle-read and spill bytes.
  * Wall clock on a shared box is noisy; the counters are fixed for a fixed
  * plan, so before/after claims rest on them. The last rep also prints a
  * `[profile-stage]` line per stage that ran over 100 ms or moved bytes.
  * `[profile-med]` is the warm median: rep 0 pays codegen, JIT and any
  * pay-once Scratch artifact, so it is left out when reps > 1.
  *
  * Variant v0 is the base session; each `--conf k=v` adds a variant in its
  * own `newSession()` (SQL confs are session-local). Every rep runs every
  * variant, in reverse order on odd reps, so an A/B shares one JVM and box
  * drift hits both sides. `--plan <dir>` writes each (query, variant)'s
  * formatted plan to `<dir>/<q>_v<i>.txt` after the last rep. */
object Profile {

  val Usage = "usage: Profile <q1,q2,...> [reps=3] [--conf k=v]... [--plan <dir>]"

  final case class Args(names: Seq[String], reps: Int,
                        confs: Seq[(String, String)], planDir: Option[String])

  /** Reads the command line; malformed input or a query name `known`
    * rejects is an IllegalArgumentException carrying [[Usage]]. */
  def parse(args: Seq[String], known: String => Boolean): Args = {
    def fail(why: String): Nothing =
      throw new IllegalArgumentException(s"$why\n$Usage")
    @annotation.tailrec
    def go(rest: List[String], a: Args, positional: Int): Args = rest match {
      case "--conf" :: kv :: tail => kv.split("=", 2) match {
        case Array(k, v) if k.nonEmpty =>
          go(tail, a.copy(confs = a.confs :+ (k -> v)), positional)
        case _ => fail(s"--conf needs k=v, got '$kv'")
      }
      case "--plan" :: dir :: tail => go(tail, a.copy(planDir = Some(dir)), positional)
      case ("--conf" | "--plan") :: Nil => fail(s"${rest.head} needs a value")
      case flag :: _ if flag.startsWith("--") => fail(s"unknown option '$flag'")
      case qs :: tail if positional == 0 =>
        go(tail, a.copy(names = qs.split(",").map(_.trim).filter(_.nonEmpty).toSeq), 1)
      case reps :: tail if positional == 1 => reps.toIntOption.filter(_ > 0) match {
        case Some(r) => go(tail, a.copy(reps = r), 2)
        case None => fail(s"reps must be a positive integer, got '$reps'")
      }
      case extra :: _ => fail(s"unexpected argument '$extra'")
      case Nil => a
    }
    val a = go(args.toList, Args(Nil, 3, Nil, None), 0)
    if (a.names.isEmpty) fail("no query named")
    val unknown = a.names.filterNot(known)
    if (unknown.nonEmpty) fail(s"unknown query: ${unknown.mkString(", ")}")
    a
  }

  /** Median of the warm reps: rep 0 is left out when there are more; an
    * even count averages the two middle values. */
  private[tools] def warmMedian(times: Seq[Double]): Double = {
    val warm = (if (times.length > 1) times.drop(1) else times).sorted
    val m = warm.length / 2
    if (warm.length % 2 == 1) warm(m) else (warm(m - 1) + warm(m)) / 2
  }

  private[tools] final case class Counts(
      jobs: Long = 0, stages: Long = 0, tasks: Long = 0, inputB: Long = 0,
      shufW: Long = 0, shufR: Long = 0, spillB: Long = 0,
      analysisMs: Long = 0, optimizationMs: Long = 0, planningMs: Long = 0)

  /** Counts jobs, stages, tasks and stage bytes off the listener bus, and
    * sums the planning phases of every query execution it is registered
    * with. While `stageLabel` is set, stages over 100 ms or that moved
    * bytes print a `[profile-stage]` line. */
  private[tools] final class Recorder extends SparkListener with QueryExecutionListener {
    private var acc = Counts()
    @volatile var stageLabel: Option[String] = None

    private def add(f: Counts => Counts): Unit = synchronized { acc = f(acc) }
    def counts: Counts = synchronized(acc)
    def reset(): Unit = add(_ => Counts())

    /** Waits until every counter holds still for two consecutive 100 ms
      * windows, at most 5 s (a fixed sleep undercounted on a loaded box). */
    def drain(): Counts = {
      var prev = counts; var stable = 0; var waited = 0
      while (stable < 2 && waited < 50) {
        Thread.sleep(100); waited += 1
        val cur = counts
        if (cur == prev) stable += 1 else { stable = 0; prev = cur }
      }
      prev
    }

    override def onJobStart(j: SparkListenerJobStart): Unit =
      add(c => c.copy(jobs = c.jobs + 1))
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      add(c => c.copy(tasks = c.tasks + 1))
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      val i = s.stageInfo
      val m = Option(i.taskMetrics)
      val in = m.fold(0L)(_.inputMetrics.bytesRead)
      val w = m.fold(0L)(_.shuffleWriteMetrics.bytesWritten)
      val r = m.fold(0L)(_.shuffleReadMetrics.totalBytesRead)
      val sp = m.fold(0L)(t => t.diskBytesSpilled + t.memoryBytesSpilled)
      add(c => c.copy(stages = c.stages + 1, inputB = c.inputB + in,
        shufW = c.shufW + w, shufR = c.shufR + r, spillB = c.spillB + sp))
      val durMs = (for (t0 <- i.submissionTime; t1 <- i.completionTime)
        yield t1 - t0).getOrElse(-1L)
      stageLabel.filter(_ => durMs > 100 || in + w + r > 0).foreach { label =>
        System.err.println(s"[profile-stage] $label stage=${i.stageId} dur=${durMs}ms" +
          s" input=${kb(in)} shufW=${kb(w)} shufR=${kb(r)} tasks=${i.numTasks}" +
          s" recsOut=${m.fold(0L)(_.shuffleWriteMetrics.recordsWritten)}" +
          s" name=${i.name.takeWhile(_ != ' ')}")
      }
    }

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).fold(0L)(_.durationMs)
      add(c => c.copy(analysisMs = c.analysisMs + ms("analysis"),
        optimizationMs = c.optimizationMs + ms("optimization"),
        planningMs = c.planningMs + ms("planning")))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private[tools] final case class Rep(sec: Double, n: Long, c: Counts)

  /** One rep: reset the counters, time `action`, drain, clear the cache. */
  private[tools] def measure(spark: SparkSession, rec: Recorder)(action: => Long): Rep = {
    rec.reset()
    val t0 = System.nanoTime()
    val n = action
    val sec = (System.nanoTime() - t0) / 1e9
    val c = rec.drain()
    spark.catalog.clearCache()
    Rep(sec, n, c)
  }

  /** Variant v0 is `base`; each conf adds a `newSession()` with it set. */
  private[tools] def variants(base: SparkSession, confs: Seq[(String, String)])
      : Seq[(String, SparkSession)] =
    ("v0", base) +: confs.zipWithIndex.map { case ((k, v), i) =>
      val s = base.newSession()
      s.conf.set(k, v)
      (s"v${i + 1}", s)
    }

  private def kb(bytes: Long) = s"${bytes / 1024}KB"

  private def line(q: String, v: String, i: Int, r: Rep): String = {
    val c = r.c
    f"[profile] $q $v rep$i ${r.sec}%.2fs n=${r.n} analysis=${c.analysisMs / 1e3}%.3fs" +
      f" optimization=${c.optimizationMs / 1e3}%.3fs planning=${c.planningMs / 1e3}%.3fs" +
      s" jobs=${c.jobs} stages=${c.stages} tasks=${c.tasks} input=${kb(c.inputB)}" +
      s" shufW=${kb(c.shufW)} shufR=${kb(c.shufR)} spill=${kb(c.spillB)}"
  }

  def main(args: Array[String]): Unit = {
    val (a, sfDir) = try {
      val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
        throw new IllegalArgumentException("SPARK_GRAFT_SF_DIR is not set\n" + Usage))
      (parse(args.toSeq, SparkEntry.queries.contains), dir)
    } catch { case e: IllegalArgumentException =>
      System.err.println(e.getMessage); sys.exit(2)
    }
    val base = Sessions.local()
    val rec = new Recorder
    base.sparkContext.addSparkListener(rec)
    val vs = variants(base, a.confs)
    vs.foreach(_._2.listenerManager.register(rec))
    a.confs.zipWithIndex.foreach { case ((k, v), i) =>
      System.err.println(s"[profile] v${i + 1}: $k=$v")
    }
    try a.names.foreach { q =>
      val fn = SparkEntry.queries(q)
      val times = vs.map(_._1 -> Seq.newBuilder[Double]).toMap
      (0 until a.reps).foreach { i =>
        (if (i % 2 == 1) vs.reverse else vs).foreach { case (v, s) =>
          rec.stageLabel = if (i == a.reps - 1) Some(s"$q $v") else None
          val r = measure(s, rec)(fn(s, sfDir).count())
          System.err.println(line(q, v, i, r))
          times(v) += r.sec
        }
      }
      rec.stageLabel = None
      vs.foreach { case (v, _) =>
        System.err.println(f"[profile-med] $q $v ${warmMedian(times(v).result())}%.3f")
      }
      a.planDir.foreach { dir =>
        Files.createDirectories(Paths.get(dir))
        vs.foreach { case (v, s) =>
          val path = Paths.get(dir, s"${q}_$v.txt")
          Files.writeString(path,
            fn(s, sfDir).queryExecution.explainString(FormattedMode))
          s.catalog.clearCache()
          System.err.println(s"[profile] wrote $path")
        }
        rec.drain() // jobs the plan builds ran must not land in the next rep
      }
    } finally base.stop()
  }
}

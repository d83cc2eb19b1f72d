package perfbench

import scala.collection.mutable.ArrayBuffer

/** Closed-loop operation accounting: one client thread, the next
  * operation starts when the previous one ends.
  *
  * An operation is timed around its action only; its answer is checked
  * afterwards, outside the timing. An operation that throws, or whose
  * answer fails its check, counts as failed and contributes no time to
  * any sample or round.
  */
final class Ops(tracer: Tracer) {
  /** A successful operation: its wall time and the CPU time the whole
    * process spent meanwhile (task, driver, JIT and GC threads). */
  final case class Sample(name: String, kind: String, round: Int, seconds: Double,
      cpuSeconds: Double)

  val samples = ArrayBuffer.empty[Sample]
  val failures = ArrayBuffer.empty[(String, String)]
  var attempted = 0
  var failed = 0
  var wrong = 0
  private var round = 0
  private var opSeq = 0

  def nextRound(): Unit = round += 1
  def rounds: Int = round

  /** Runs one operation. `action` is timed; `check` runs after the
    * timing and returns None when the answer is right, or the reason it
    * is wrong. */
  def run[T](name: String, kind: String)(action: => T)(check: T => Option[String]): Unit = {
    opSeq += 1
    val span = tracer.open(s"op.$kind", name, opId = opSeq)
    val c0 = Ops.processCpuNanos()
    val t0 = System.nanoTime()
    val result = try Right(action) catch { case e: Throwable => Left(e) }
    val seconds = (System.nanoTime() - t0) / 1e9
    val cpuSeconds = (Ops.processCpuNanos() - c0) / 1e9
    tracer.close(span)
    attempted += 1
    result match {
      case Left(e) =>
        failed += 1
        failures += name -> s"threw ${describe(e)}"
      case Right(v) =>
        val verdict = try check(v) catch {
          case e: Throwable => Some(s"check threw ${describe(e)}")
        }
        verdict match {
          case None => samples += Sample(name, kind, round, seconds, cpuSeconds)
          case Some(why) =>
            failed += 1
            wrong += 1
            failures += name -> s"wrong answer: $why"
        }
    }
  }

  private def describe(e: Throwable): String = {
    val msg = Option(e.getMessage).getOrElse("").linesIterator
      .take(1).mkString.take(200)
    s"${e.getClass.getName}: $msg"
  }

  /** Wall time of each round: the sum of its successful operations. */
  def roundSeconds: Seq[Double] = perRound(_.seconds)

  /** Process CPU time of each round, over its successful operations. */
  def roundCpuSeconds: Seq[Double] = perRound(_.cpuSeconds)

  private def perRound(f: Sample => Double): Seq[Double] =
    samples.groupBy(_.round).toSeq.sortBy(_._1).map(_._2.map(f).sum)

  def querySeconds: Seq[Double] =
    samples.filter(_.kind == "query").map(_.seconds).toSeq
}

object Ops {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Runs `round(n)` for n = 0, 1, ... while `more(rounds done)` holds;
    * runs at least one round. */
  def loop(more: Int => Boolean)(round: Int => Unit): Unit = {
    var n = 0
    do { round(n); n += 1 } while (more(n))
  }

  /** A `more` for `loop`: at most `rounds` rounds, and none started once
    * `seconds` have passed since this call. The round count fixes the
    * work of a run, so that the retained heap, which grows with every
    * query run, compares across runs; the deadline bounds a run on a slow
    * host. */
  def upTo(rounds: Int, seconds: Int): Int => Boolean = {
    val deadline = System.nanoTime() + seconds * 1000000000L
    n => n < rounds && System.nanoTime() < deadline
  }

  /** CPU time used by this process so far (10 ms resolution on Linux). */
  def processCpuNanos(): Long = os.getProcessCpuTime
  /** Harness self-check, run in every run before the timed region: an
    * operation that throws and one whose answer is deliberately wrong
    * must both count as failed and leave no time behind; a slow correct
    * one must be the only sample. Returns the problems found. */
  def selfCheck(): Seq[String] = {
    val ops = new Ops(Tracer.off)
    ops.nextRound()
    ops.run("selfcheck.ok", "query")({ Thread.sleep(2); 42 })(v =>
      if (v == 42) None else Some(s"got $v"))
    ops.run("selfcheck.throws", "query")({
      Thread.sleep(30); throw new IllegalStateException("injected")
    }: Int)(_ => None)
    ops.run("selfcheck.wrong", "query")({ Thread.sleep(30); 41 })(v =>
      if (v == 42) None else Some(s"expected 42, got $v"))
    val problems = ArrayBuffer.empty[String]
    if (ops.attempted != 3) problems += s"attempted ${ops.attempted} != 3"
    if (ops.failed != 2) problems += s"failed ${ops.failed} != 2"
    if (ops.wrong != 1) problems += s"wrong ${ops.wrong} != 1"
    if (ops.samples.map(_.name) != Seq("selfcheck.ok"))
      problems += s"timed samples ${ops.samples.map(_.name)} != [selfcheck.ok]"
    if (ops.roundSeconds.exists(_ >= 0.03))
      problems += s"round time ${ops.roundSeconds} includes a failed operation"
    problems.toSeq
  }
}

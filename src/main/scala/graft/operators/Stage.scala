package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Row}

/** Lineage pinning for multi-consumer intermediates.
  *
  * `localCheckpoint()` truncates lineage into executor-local storage —
  * the right call on local[*], where executors cannot be lost, and the
  * cheapest way to stop a shared shuffle from being recomputed per
  * consumer. On a real cluster an executor failure LOSES those blocks
  * and fails the job instead of recomputing it, so deployments that
  * can lose executors set `spark.graft.reliableCheckpoint=true` (plus
  * `sparkContext.setCheckpointDir(...)`): every pin site in the engine
  * then uses reliable `checkpoint()`, which persists the blocks to the
  * checkpoint dir's fault-tolerant storage and survives executor loss.
  * One flag flips every site; the default stays local because the
  * reliable form costs a storage round-trip per pinned frame.
  */
private[graft] object Stage {
  val ReliableFlag = "spark.graft.reliableCheckpoint"

  implicit final class PinOps[T](private val ds: Dataset[T])
      extends AnyVal {
    /** Pin this frame for its multiple consumers: reliable
      * checkpoint under [[ReliableFlag]], executor-local otherwise. */
    def pinned: Dataset[T] =
      if (ds.sparkSession.conf.get(ReliableFlag, "false").toBoolean)
        ds.checkpoint()
      else ds.localCheckpoint()

    /** [[pinned]] with LAZY materialization: the blocks fill during
      * the first consuming job instead of a dedicated eager pin job,
      * and later consumers read them back like any checkpoint — same
      * data, one fewer job per pin site on the local form. The
      * lineage is cut only when a job reads this frame directly:
      * Spark stops the cut at the first pinned frame it meets, so a
      * frame read only through another lazy pin stays uncut and
      * cached. The reliable form does not persist the frame, so its
      * fill computes the frame twice (the consumer, then the
      * checkpoint write).
      * Right for a strictly SEQUENTIAL chain whose next stage always
      * consumes the previous one (the curate funnel). NOT a drop-in
      * for `pinned` everywhere: sites that pin to capture a mutable
      * source before a swap (the index maintenance doors, EtlJob's
      * batch pin), hand the frame to concurrent driver threads (the
      * overlap sites) or carry state with no guaranteed direct reader
      * (EtlJob's state) rely on eager, single-threaded
      * materialization. */
    def pinnedLazy: Dataset[T] =
      if (ds.sparkSession.conf.get(ReliableFlag, "false").toBoolean)
        ds.checkpoint(eager = false)
      else ds.localCheckpoint(eager = false)
  }
}

/** Driver-thread overlap scaffolding for the §2.6 sites (the hybrid
  * serve's two arms, compaction's totals recompute): a SMALL dedicated
  * named daemon pool per call — never `ExecutionContext.global`, whose
  * unbounded shared fork-join pool would let one stuck arm starve
  * whatever else the JVM runs — and a GENEROUS but finite await that
  * refuses loudly instead of hanging a shared driver forever
  * (`Await(Inf)` is only acceptable in a single-tenant local run).
  * The timeout is deliberately far above any sane job time — it is a
  * deadlock/hang backstop, not a pacing knob — and parameterised for
  * deployments whose longest maintenance jobs legitimately exceed it. */
private[graft] object Overlap {
  val TimeoutConf = "spark.graft.overlapTimeoutSec"
  val DefaultTimeoutSec = 3600L

  /** The await bound from [[TimeoutConf]]. Callers resolve it BEFORE
    * launching any work, so a malformed value refuses up front
    * instead of surfacing after the overlapped jobs already ran. */
  def timeoutOf(s: org.apache.spark.sql.SparkSession)
      : scala.concurrent.duration.FiniteDuration = {
    val raw = s.conf.get(TimeoutConf, DefaultTimeoutSec.toString)
    val sec = raw.toLongOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"$TimeoutConf must be a positive whole number of seconds, " +
          s"got '$raw'"))
    scala.concurrent.duration.Duration(sec,
      java.util.concurrent.TimeUnit.SECONDS)
  }

  /** Run `body` with a fresh `n`-thread named daemon pool as its
    * ExecutionContext; the pool is always shut down on exit (threads
    * die with the call, not with the JVM). */
  def withPool[T](name: String, n: Int)(
      body: scala.concurrent.ExecutionContext => T): T = {
    val counter = new java.util.concurrent.atomic.AtomicInteger
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n,
      (r: Runnable) => {
        val t = new Thread(r, s"$name-${counter.incrementAndGet()}")
        t.setDaemon(true)
        t
      })
    try body(scala.concurrent.ExecutionContext.fromExecutorService(pool))
    finally pool.shutdown()
  }
}

/** The driver-side route decision of every cap-gated collect: ONE
  * `limit(N+1)` job decides whether a frame fits the driver. N or
  * fewer rows back means the collect IS the complete frame
  * (`Some(rows)`, the driver-local route); N+1 rows means it outgrew
  * the cap (`None`, the caller keeps it distributed). The +1
  * saturates: a cap of Int.MaxValue must not wrap into a negative
  * limit. */
private[graft] object Route {
  def bounded(frame: DataFrame, cap: Int): Option[Array[Row]] = {
    val rows = frame.limit(if (cap == Int.MaxValue) cap else cap + 1)
      .collect()
    if (rows.length <= cap) Some(rows) else None
  }
}

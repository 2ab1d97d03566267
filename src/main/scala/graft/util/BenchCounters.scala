package graft.util

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Monotonic job/stage/shuffle/task-time totals for the whole application,
  * fed by the (public, DeveloperApi) SparkListener events; Bench snapshots
  * the totals around each query rep and reports the deltas. Wall-time alone
  * could not decide three rounds of ambient-vs-structural bench disputes
  * (VERDICT r13 #4) — job counts can: a query whose driver-environment
  * inflation comes from many short driver-scheduled waves shows it directly
  * in `jobs`, while a data-volume problem shows in `shuffleBytes`/`taskMs`.
  * Snapshot exactness requires draining the async listener bus first,
  * which `drainedSnapshot` does (ListenerBridge.waitUntilEmpty). */
final class BenchCounters extends SparkListener {
  private val jobs = new AtomicLong
  private val stages = new AtomicLong
  private val shuffleBytes = new AtomicLong
  private val taskMs = new AtomicLong
  // window-scoped DRIVER-PHASE markers (VERDICT r20 #2: the r20 stall was
  // provably driver-side — 2.8 task-s under a 23.4 s wall — but the
  // artifact could not say WHERE; these let Bench split each rep's wall
  // into time-to-first-job vs job-span vs post-job tail). Bench is
  // single-threaded around reps and drains the listener bus before
  // reading, so plain volatiles suffice.
  @volatile private var windowFirstJobStartMs = -1L
  @volatile private var lastJobEndMs = -1L

  /** Reset the window's first-job marker — call at the start of a rep. */
  def markWindow(): Unit = { windowFirstJobStartMs = -1L }

  /** Epoch ms of the first job started since markWindow(), or -1 if the
    * window scheduled no job (a fully cached/driver-only rep). */
  def windowFirstJobStart: Long = windowFirstJobStartMs

  /** Epoch ms of the most recent job end, or -1 before any job ends. */
  def lastJobEnd: Long = lastJobEndMs

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    if (windowFirstJobStartMs < 0) windowFirstJobStartMs = e.time
    ()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    lastJobEndMs = e.time
    ()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    val m = e.stageInfo.taskMetrics
    if (m != null) {
      shuffleBytes.addAndGet(
        m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
      taskMs.addAndGet(m.executorRunTime)
      ()
    }
  }

  /** (jobs, stages, shuffleBytes, taskMs) — running totals. */
  def snapshot: BenchCounters.Snap =
    BenchCounters.Snap(jobs.get, stages.get, shuffleBytes.get, taskMs.get)

  /** Drain `sc`'s listener bus, then snapshot — the exact totals of every
    * job that has finished so far. */
  def drainedSnapshot(sc: org.apache.spark.SparkContext): BenchCounters.Snap = {
    org.apache.spark.graft.ListenerBridge.waitUntilEmpty(sc)
    snapshot
  }
}

object BenchCounters {
  final case class Snap(jobs: Long, stages: Long, shuffleBytes: Long,
      taskMs: Long) {
    def -(o: Snap): Snap = Snap(jobs - o.jobs, stages - o.stages,
      shuffleBytes - o.shuffleBytes, taskMs - o.taskMs)
  }
}

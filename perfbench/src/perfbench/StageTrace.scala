package perfbench

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Aggregates task metrics and job wall time per stage label of one
  * operation. The label is the job description the engine already sets
  * (`setJobDescription`); jobs without a known description count as
  * `dedup.other`. Register one instance per session and read it after the
  * session is stopped: stopping drains the listener bus.
  */
final class StageTrace extends SparkListener {
  import StageTrace._

  private val jobs = mutable.Map[Int, (String, Long)]()
  private val stageLabel = mutable.Map[Int, String]()
  private val intervals = mutable.ArrayBuffer[(String, Long, Long)]()
  val tasks: mutable.Map[String, Agg] = mutable.Map[String, Agg]()
  /** Highest `cc: round N` seen. */
  var ccRounds = 0

  private def labelOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.job.description")))
      .map(canonical).getOrElse(Other)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val label = labelOf(e.properties)
    jobs(e.jobId) = (label, e.time)
    e.stageIds.foreach(stageLabel(_) = label)
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
      .collect { case CcRound(n) => n.toInt }
      .foreach(n => ccRounds = math.max(ccRounds, n))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.remove(e.jobId).foreach { case (label, t0) => intervals += ((label, t0, e.time)) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val a = tasks.getOrElseUpdate(stageLabel.getOrElse(e.stageId, Other), new Agg)
    a.tasks += 1
    if (m != null) {
      a.cpuS += m.executorCpuTime / 1e9
      a.gcS += m.jvmGCTime / 1e3
      a.shuffleWriteMb += m.shuffleWriteMetrics.bytesWritten / 1e6
      a.shuffleReadMb += m.shuffleReadMetrics.totalBytesRead / 1e6
      a.spillMb += m.diskBytesSpilled / 1e6
    }
  }

  /** Per-label wall seconds inside [t0Ms, t1Ms]: the union of that label's
    * job intervals. Driver time outside every main-thread job (planning,
    * result handling) is added to `dedup.other`, so the main-thread labels
    * partition the operation wall unless two of them overlap.
    */
  def walls(t0Ms: Long, t1Ms: Long): Map[String, Double] = synchronized {
    def clip(s: Long, e: Long) = (math.max(s, t0Ms), math.min(e, t1Ms))
    def union(iv: Seq[(Long, Long)]): Long = {
      var total = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
      if (curE > curS) total += curE - curS
      total
    }
    val byLabel = intervals.groupBy(_._1).map { case (l, xs) =>
      l -> union(xs.map(x => clip(x._2, x._3)).toSeq) / 1e3
    }
    val covered = union(intervals.filter(_._1 != Members).map(x => clip(x._2, x._3)).toSeq)
    val gap = (t1Ms - t0Ms - covered) / 1e3
    Labels.map(l => l -> (byLabel.getOrElse(l, 0.0) + (if (l == Other) gap else 0.0))).toMap +
      (GapKey -> gap)
  }
}

object StageTrace {
  final class Agg {
    var tasks = 0L
    var cpuS = 0.0
    var gcS = 0.0
    var shuffleWriteMb = 0.0
    var shuffleReadMb = 0.0
    var spillMb = 0.0
  }

  val Other = "dedup.other"
  val Members = "dedup.members"
  val GapKey = "_driver_gap"
  val Labels: Seq[String] = Seq("dedup.bucket_checkpoint", "dedup.verify", Members,
    "dedup.assign_keepers", "cc.round1", "cc.rounds_rest", Other)
  private val CcRound = """cc: round (\d+)""".r

  /** Engine job description -> metric label. */
  def canonical(desc: String): String = desc match {
    case "dedup: bucket checkpoint" => "dedup.bucket_checkpoint"
    case "dedup: verify edges materialize" => "dedup.verify"
    case "members: background materialize" => Members
    case "dedup: assign + keepers" => "dedup.assign_keepers"
    case "cc: round 1 hop-1 labels" | "cc: round 1" => "cc.round1"
    case CcRound(_) => "cc.rounds_rest"
    case _ => Other
  }
}

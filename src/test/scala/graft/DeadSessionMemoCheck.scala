package graft

import org.apache.spark.sql.SparkSession

/** Child-JVM scenario for PersistLifecycleSpec's dead-session sweep
  * case (round 16; the ADVICE r14 stretch): the suite's own context
  * must stay alive, and a JVM allows one live SparkContext — so the
  * stopped-owner path runs here, in a subprocess, with SEQUENTIAL
  * contexts. Session 1 builds a memoized components frame (a reliable
  * checkpoint on disk) and stops WITHOUT the harness clear; session 2
  * touches the memo, whose dead-session sweep must evict session 1's
  * entry AND delete its checkpoint files through a fresh Hadoop FS
  * handle. Exit 0 iff the files are gone.
  */
object DeadSessionMemoCheck {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val s1 = GraftSession.local(4)
    def ckptFileOf(f: org.apache.spark.sql.DataFrame, what: String) = {
      require(f.count() > 0, s"vacuous: empty $what frame")
      val ckpt = org.apache.spark.sql.graft.PlanBridge.checkpointFile(f)
        .getOrElse(sys.error(s"$what frame is not a reliable checkpoint"))
      val file = new java.io.File(new java.net.URI(ckpt).getPath)
      require(file.exists, s"checkpoint missing before stop: $ckpt")
      (ckpt, file)
    }
    val (ckpt, ckptFile) =
      ckptFileOf(graft.etl.Dedup.componentsFrame(s1, dir), "components")
    // the round-17 trainer memo rides the same SessionMemo sweep — the
    // child-JVM proof covers it too
    val (ckptT, ckptFileT) =
      ckptFileOf(graft.etl.QualityTrain.trainArtifact(s1, dir), "train-artifact")
    s1.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    require(ckptFile.exists && ckptFileT.exists,
      "stop() itself deleted the files — the sweep has nothing to prove")
    val s2 = GraftSession.local(4)
    // any memo lookup runs that memo's dead-session sweep first
    require(graft.etl.Dedup.componentsFrame(s2, dir).count() > 0)
    require(graft.etl.QualityTrain.trainArtifact(s2, dir).count() > 0)
    val gone = !ckptFile.exists && !ckptFileT.exists
    println(s"DEADSESSION_DELETED=$gone ckpt=$ckpt ckptTrain=$ckptT")
    s2.stop()
    if (!gone) sys.exit(1)
  }
}

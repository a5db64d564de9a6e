package org.apache.spark.graft

import java.util.Properties

import org.apache.spark.{JobArtifactSet, JobArtifactState, SparkContext}
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.Utils

/**
 * A thread's Spark context — its SparkContext local properties (job
 * group, description, scheduler pool), its active session and its job
 * artifact state — captured so that code run on a pooled thread runs
 * as if on the caller's, as Spark's `SQLExecution.withThreadLocalCaptured`
 * does. Local properties are inherited only when a thread is created,
 * so a reused pool thread otherwise keeps those of whichever thread
 * created it.
 */
final class CallerContext private (sc: Option[SparkContext],
                                   props: Properties,
                                   session: Option[SparkSession],
                                   artifacts: JobArtifactState) {

  /** `body` on this thread under the captured context; the thread's
    * own context is restored afterwards. */
  def run[T](body: => T): T =
    JobArtifactSet.withActiveJobArtifactState(artifacts) {
      val ownProps = sc.map(_.getLocalProperties)
      val ownSession = SparkSession.getActiveSession
      sc.foreach(_.setLocalProperties(Utils.cloneProperties(props)))
      session.foreach(SparkSession.setActiveSession)
      try body
      finally {
        for (c <- sc; p <- ownProps) c.setLocalProperties(p)
        ownSession match {
          case Some(s) => SparkSession.setActiveSession(s)
          case None => SparkSession.clearActiveSession()
        }
      }
    }
}

object CallerContext {

  /** The calling thread's context. */
  def capture(): CallerContext = {
    val sc = SparkContext.getActive
    new CallerContext(sc, sc.map(c => Utils.cloneProperties(c.getLocalProperties)).orNull,
      SparkSession.getActiveSession,
      JobArtifactSet.getCurrentJobArtifactState.orNull)
  }
}

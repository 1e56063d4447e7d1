package graft.core

import org.apache.spark.SparkContext

/** Spark job descriptions and stage names that name the step of an
  * operator.
  */
object JobTags {

  /** The local properties Spark reads a job's call site from, short and
    * long form; a set call site names the stages of the jobs launched
    * under it, the adaptive query stages included.
    */
  private val CallSiteKeys = Seq("callSite.short", "callSite.long")

  /** Runs `body` with a `tag` function: `tag(step)` describes the jobs
    * launched after it as `<scope>/<step>` and names their stages so. The
    * caller's description and call site are restored on return and its job
    * group is left alone.
    */
  def tagged[T](sc: SparkContext, scope: String)(body: (String => Unit) => T): T = {
    val callerDescription = sc.getLocalProperty("spark.job.description")
    val callerSite = CallSiteKeys.map(sc.getLocalProperty)
    try body { step =>
      sc.setJobDescription(s"$scope/$step")
      CallSiteKeys.foreach(sc.setLocalProperty(_, s"$scope/$step"))
    }
    finally {
      sc.setJobDescription(callerDescription)
      CallSiteKeys.zip(callerSite).foreach { case (k, v) => sc.setLocalProperty(k, v) }
    }
  }
}

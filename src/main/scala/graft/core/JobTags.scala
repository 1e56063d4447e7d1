package graft.core

import org.apache.spark.SparkContext

/** Spark job descriptions that name the step of an operator. */
object JobTags {

  /** Runs `body` with a `tag` function: `tag(step)` describes the jobs
    * launched after it as `<scope>/<step>`. The caller's description is
    * restored on return and its job group is left alone.
    */
  def tagged[T](sc: SparkContext, scope: String)(body: (String => Unit) => T): T = {
    val callerDescription = sc.getLocalProperty("spark.job.description")
    try body(step => sc.setJobDescription(s"$scope/$step"))
    finally sc.setJobDescription(callerDescription)
  }
}

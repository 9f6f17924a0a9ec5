package graft

import org.apache.spark.sql.SparkSession

/** Job-counting harness for specs that assert how many jobs a code path
  * launches: the jobs of one [[Instrument]] span around `body`. The span
  * drains the listener bus before and after `body`, so the count is
  * every job started while `body` ran, with no marker job and no
  * polling. */
object JobCounter {

  def count(spark: SparkSession)(body: => Unit): Int = {
    val instrument = new Instrument(spark)
    try instrument.span("jobs")(body)._2.jobs.size
    finally instrument.close()
  }
}

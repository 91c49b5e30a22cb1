package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs of one block of work by job group. The block
  * runs under its own group (threads it starts inherit it); a sentinel
  * job under another group then fences the listener bus, which delivers
  * job events in submission order. One tally per block. */
class JobTally(spark: SparkSession, name: String) extends SparkListener {
  private val started = new java.util.concurrent.ConcurrentHashMap[Int, String]
  private val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]
  private val group = s"jobtally-$name-${System.nanoTime()}"

  override def onJobStart(e: SparkListenerJobStart): Unit =
    started.put(e.jobId, Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
  override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.add(e.jobId)

  private def groups: Seq[String] = {
    val b = Seq.newBuilder[String]
    started.forEach((_, g) => b += g)
    b.result()
  }
  private val fence = "jobtally-fence"
  def inGroup: Int = groups.count(_ == group)
  def outsideGroup: Int = groups.count(g => g != group && g != fence)
  def running: Int = started.keySet.stream
    .filter(id => !ended.contains(id) && started.get(id) != fence).count.toInt

  def run[A](body: => A): A = {
    val sc = spark.sparkContext
    sc.addSparkListener(this)
    try {
      sc.setJobGroup(group, name)
      val res = try body finally sc.clearJobGroup()
      sc.setJobGroup(fence, fence)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 60e9.toLong
      while (!groups.contains(fence) && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(groups.contains(fence), "listener bus did not drain")
      res
    } finally sc.removeSparkListener(this)
  }
}

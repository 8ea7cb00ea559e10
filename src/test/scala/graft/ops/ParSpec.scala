package graft.ops

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.SparkTestBase

/** [[Par]] arms run on a shared pool whose threads inherit Spark local
  * properties only when they are created; the arms must still submit
  * their jobs under the caller's properties (job tags, descriptions). */
class ParSpec extends SparkTestBase {

  test("arm jobs carry the caller's job tag on a warm pool") {
    val sc = spark.sparkContext
    def arms(n: Int) = (0 until n).map(i => () => spark.range(100 + i).toDF("id"))
    Par.pinAll(arms(8): _*) // every pool thread now exists, created untagged
    val jobTags = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobTags.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.job.tags"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    sc.addJobTag("par-probe")
    try {
      Par.pinAll(arms(4): _*)
      ListenerBridge.drain(sc)
    } finally {
      sc.removeJobTag("par-probe")
      sc.removeSparkListener(listener)
    }
    val tags = jobTags.asScala.toSeq
    assert(tags.size >= 4, s"expected one job per arm, saw ${tags.size}")
    assert(tags.forall(_.split(",").contains("par-probe")),
      s"arm jobs without the caller's tag: $tags")
  }
}

package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs: the harness session
  * (`graft.Session.builder`) at small parallelism. */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session
  val SfDir = "/root/testdata/sf0.001"

  /** Formatted physical plan of a DataFrame (for plan-shape asserts). */
  def planOf(df: org.apache.spark.sql.DataFrame): String = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) { df.explain("formatted") }
    out.toString("UTF-8")
  }

  /** The description of every job `body` starts ("" when unset), read
    * by a SparkListener, in start order. */
  def jobDescriptions(body: => Unit): Seq[String] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      org.apache.spark.ListenerBusDrain(sc)
    } finally sc.removeSparkListener(listener)
    scala.jdk.CollectionConverters.IteratorHasAsScala(seen.iterator)
      .asScala.toSeq
  }
}

object SparkTestBase {
  lazy val session: SparkSession = {
    // the harness confs at a fixed local[4], whatever the host
    val s = graft.Session.builder(4).appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

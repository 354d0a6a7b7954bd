package graft

import java.util.concurrent.{Callable, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

class StoreSpec extends SparkSpec {

  private def postingsTables(): Set[String] =
    spark.catalog.listTables().collect().map(_.name).filter(_.startsWith("graft_postings_")).toSet

  test("Store builds are single-flight: 4 threads on a cold session share one postings build") {
    val cold = spark.newSession() // Store layouts are per session: nothing built yet
    val before = postingsTables()
    val pool = Executors.newFixedThreadPool(4)
    val frames =
      try {
        val calls = (1 to 4).map(_ => new Callable[org.apache.spark.sql.DataFrame] {
          def call() = Store.postings(cold, sf0001)
        })
        pool.invokeAll(calls.asJava).asScala.map(_.get(5, TimeUnit.MINUTES)).toSeq
      } finally pool.shutdown()
    assert(frames.forall(_ eq frames.head), "every caller gets the same frame")
    val rows = frames.map(_.collect().map(_.toSeq).sortBy(_.mkString("\u0000")).toSeq)
    assert(rows.head.nonEmpty && rows.forall(_ == rows.head))
    assert((postingsTables() -- before).size == 1, "exactly one postings build ran")
    assert(Store.corpusStats(frames.head).isDefined)
  }

  test("a nested build of another key runs inside a build (iriIndex over quads)") {
    val cold = spark.newSession()
    assert(Store.iriIndex(cold, sf0001).count() > 0)
    assert(Store.quads(cold, sf0001) eq Store.quads(cold, sf0001))
  }
}

package graft

import java.util.concurrent.{Callable, Executors, TimeUnit}

import org.apache.spark.sql.DataFrame

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

/** [[Caches]] registrations belong to the thread that built the frame, so a
  * release on one thread never drops a cache or broadcast that a query on
  * another thread has yet to read. */
class CachesSpec extends SparkSpec {

  private def rowsOf(name: String): Seq[String] =
    SparkEntry.queries(name)(spark, sf0001).collect().map(_.toString).toSeq.sorted

  /** The gate's rows from a run with nothing else in flight. */
  private def serial(names: Seq[String]): Map[String, Seq[String]] =
    names.map { n => val r = rowsOf(n); Caches.release(); n -> r }.toMap

  /** Persistent RDDs added since `before`. The census holds RDDs weakly, so
    * an unrelated unreferenced one may vanish meanwhile; only additions
    * count. */
  private def addedSince(before: Set[Int]): Set[Int] = persistentIds -- before

  private def persistentIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** sp17's `knows+` with the distributed loop forced: building the frame
    * leaves its level barriers cached and tracked, where sp17 itself takes
    * the driver search at sf0.001 and tracks nothing. */
  private def forcedPathPlus: DataFrame = {
    import graft.sparql._
    PathCompiler.compile(Store.quads(spark, sf0001), TConst(Term.iri("person:0")),
      PRange(PLink("http://schema.org/knows"), 1, None), TVar("x"), None,
      Some(Store.triples(spark, sf0001)), localMaxEdges = 0)
  }

  test("a release on another thread leaves this thread's broadcast and closure caches alone") {
    // dd10 reads a tracked Bloom-filter broadcast, the forced path frame
    // tracked level barriers
    val gates = Seq("dd10_bloom_incremental", "sp17_path_plus")
    val build: Map[String, () => DataFrame] =
      gates.map(g => g -> (() => SparkEntry.queries(g)(spark, sf0001))).toMap +
        ("forced knows+" -> (() => forcedPathPlus))
    val expected = build.map { case (n, f) =>
      val r = f().collect().map(_.toString).toSeq.sorted; Caches.release(); n -> r }
    assert(expected("forced knows+").size == 20)
    val before = persistentIds
    val frames = build.map { case (n, f) => n -> f() }
    try {
      val held = addedSince(before)
      assert(held.nonEmpty, "the forced path search left no cached level")
      val other = new Thread(() => Caches.release())
      other.start()
      other.join()
      assert(held.subsetOf(persistentIds), "another thread's release dropped this thread's caches")
      frames.foreach { case (g, df) =>
        assert(df.collect().map(_.toString).toSeq.sorted == expected(g), g)
      }
    } finally Caches.release()
    assert(addedSince(before).isEmpty, "the owner's release frees what it registered")
  }

  test("4 threads run cache-using gates at once, each releasing after its own action") {
    val gates = Seq("dd10_bloom_incremental", "or1_orphan_filter", "sp17_path_plus",
      "gr1_pagerank", "dd6_lsh_verified")
    val expected = serial(gates)
    Caches.release()
    val before = persistentIds
    val pool = Executors.newFixedThreadPool(4)
    val runs =
      try {
        val clients = (0 until 4).map { c =>
          new Callable[Seq[(String, Try[Seq[String]])]] {
            // each client starts at a different gate, so different gates overlap
            def call() = (1 to 2).flatMap { _ =>
              (gates.drop(c) ++ gates.take(c)).map { g =>
                val r = Try(rowsOf(g))
                Caches.release()
                g -> r
              }
            }
          }
        }
        pool.invokeAll(clients.asJava).asScala.flatMap(_.get(10, TimeUnit.MINUTES)).toSeq
      } finally pool.shutdown()
    val errors = runs.collect { case (g, Failure(e)) => s"$g: ${e.getMessage}" }
    assert(errors.isEmpty, errors.mkString("\n"))
    val wrong = runs.collect { case (g, Success(r)) if r != expected(g) => g }
    assert(wrong.isEmpty, s"rows differ from the serial run: $wrong")
    assert(runs.size == 4 * 2 * gates.size)
    assert(addedSince(before).isEmpty, "every client released what it registered")
  }
}

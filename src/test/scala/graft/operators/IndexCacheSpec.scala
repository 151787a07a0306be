package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec
import graft.TestDirs.tempDir

/** The one content fingerprint every persisted index is keyed by. */
class IndexCacheSpec extends AnyFunSuite with SparkSpec {

  test("tableFp over one file-backed frame keys its memo by the key columns") {
    import spark.implicits._
    val path = tempDir("graft_index_cache_spec").toString + "/t"
    Seq((1L, "x", "p"), (2L, "y", "q")).toDF("id", "a", "b").write.parquet(path)
    val df = spark.read.parquet(path)
    val byA = IndexCache.tableFp(df, Seq("id", "a"))
    val byB = IndexCache.tableFp(df, Seq("id", "b"))
    assert(byA != byB)
    // Each memoized value is its own key set's, not whichever came first.
    assert(IndexCache.tableFp(df, Seq("id", "a")) == byA)
    assert(IndexCache.tableFp(spark.read.parquet(path), Seq("id", "b")) == byB)
  }

  test("paired duplicates do not cancel: {A,A,B} and {C,C,B} fingerprint apart") {
    import spark.implicits._
    val a = (1L, "alpha"); val b = (2L, "beta"); val c = (3L, "gamma")
    val aab = Seq(a, a, b).toDF("doc_id", "text")
    val ccb = Seq(c, c, b).toDF("doc_id", "text")
    assert(Dedup.docFp(aab) != Dedup.docFp(ccb))
    assert(Dedup.docFp(aab) == Dedup.docFp(Seq(b, a, a).toDF("doc_id", "text")))
  }
}

package graft

import org.apache.spark.sql.functions._

/** Throwaway stage-level profiler for hotspot queries (not part of the
  * driver contract; run by hand while optimizing). Current target: the
  * market-basket / k-hop pair.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local("profile")
    spark.sparkContext.setLogLevel("WARN")
    import graft.sources.Tables

    def time(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"$label%-28s ${(System.nanoTime() - t0) / 1e9}%8.3f s  rows=$n")
    }

    // warm tables
    Tables.lineitem(spark, sfDir).count()
    Tables.part(spark, sfDir).count()

    val lineitem = Tables.lineitem(spark, sfDir).select(col("l_orderkey"), col("l_partkey"))
    val part = Tables.part(spark, sfDir).select(col("p_partkey"), col("p_brand"))
    time("dim join")(lineitem.join(broadcast(part),
      col("l_partkey") === col("p_partkey")).count())
    val lpPlain = lineitem.join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("o"), col("p_brand").as("b")).distinct()
    time("distinct")(lpPlain.count())
    // localCheckpoint trade: lineage is cut to executor-local storage,
    // so losing an executor fails the query instead of recomputing it.
    val lp = lpPlain.localCheckpoint()
    time("checkpoint")(lp.count())
    time("countDistinct o")(lp.agg(countDistinct(col("o")).as("n")).count())
    time("item counts")(lp.groupBy(col("b")).agg(count(lit(1)).as("nb")).count())
    val pr = lp.as("a").join(lp.as("x"),
        col("a.o") === col("x.o") && col("a.b") < col("x.b"))
      .groupBy(col("a.b").as("ba"), col("x.b").as("bb"))
      .agg(count(lit(1)).as("nab"))
    time("pair self-join + agg")(pr.count())
    time("full q_market_basket")(SparkEntry.queries("q_market_basket")(spark, sfDir).count())
    time("full q_khop_reach")(SparkEntry.queries("q_khop_reach")(spark, sfDir).count())
    time("full q_market_basket 2")(SparkEntry.queries("q_market_basket")(spark, sfDir).count())
    time("full q_khop_reach 2")(SparkEntry.queries("q_khop_reach")(spark, sfDir).count())
    spark.stop()
  }
}

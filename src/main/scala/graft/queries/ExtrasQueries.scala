package graft.queries

import org.apache.spark.sql.functions._
import graft.Q
import graft.functions.TextFunctions
import graft.operators.Maintenance
import graft.sources.Tables

/** Remaining SURVEY §2.2 categories: event-time tumbling/sliding windows,
  * session windows (batch `session_window`), JSON extraction, the string
  * scalar library, exact percentiles, table generators (posexplode), and
  * the SQL-text layer with a scalar subquery. */
object ExtrasQueries {

  /** Replay log per (JVM, sf dir) — the build step of the `graft-replay`
    * connector's query: the accepted-deposit projection of events framed
    * into 4 offset-ranged segments (see [[graft.sources.replay.ReplayLog]]).
    * Built once, served by every run, like the stream feeds. */
  private def replayLogFor(s: org.apache.spark.sql.SparkSession,
                           d: String): String =
    Workspace.once(s"replaylog|$d") {
      val path = Workspace.fresh("replaylog")
      graft.sources.replay.ReplayLog.writeSegments(
        Tables.events(s, d).filter(col("value") > 0).select(
          col("event_id").as("offset"),
          expr("unix_micros(ts) div 1000000").as("ts_unix"),
          col("user_id").cast("string").as("wallet_id"),
          col("value").as("amount")),
        path, nSegments = 4)
      path
    }

  /** Time-travel log per (JVM, sf dir): its OWN directory (appending to
    * the shared log would shift every other replay oracle), written in
    * three committed generations — genesis (offsets below the midpoint,
    * 2 segments), append (the rest, 2 segments), then a 2-file
    * compaction OVERWRITE — so the snapshot chain is v1/v2/v3 with real
    * retirees retained for v1/v2 reads. The build asserts the lifecycle
    * invariants once per JVM (chain length, compaction invisibility via
    * the v2-vs-current count — both answered from pushed aggregates,
    * metadata-only); the registered query then reads v1 AND current
    * through the connector and the oracle pins both against the events
    * projection. */
  private def replayTtFor(s: org.apache.spark.sql.SparkSession,
                          d: String): String =
    Workspace.once(s"replaytt|$d") {
      import graft.sources.replay.ReplayLog
      val path = Workspace.fresh("replaytt")
      val deps = Tables.events(s, d).filter(col("value") > 0).select(
        col("event_id").as("offset"),
        expr("unix_micros(ts) div 1000000").as("ts_unix"),
        col("user_id").cast("string").as("wallet_id"),
        col("value").as("amount"))
      val thr = deps.agg(max(col("offset"))).head().getLong(0) / 2
      ReplayLog.writeSegments(deps.filter(col("offset") < thr), path, 2)
      ReplayLog.writeSegments(deps.filter(col("offset") >= thr), path, 2)
      ReplayLog.compactSegments(s, path, target = 2)
      val vs = ReplayLog.versions(path)
      require(vs == Seq(1L, 2L, 3L), s"snapshot chain $vs, expected v1..v3")
      val v2Count = s.read.format("graft-replay")
        .option("asOfVersion", "2").load(path).count()
      val curCount = s.read.format("graft-replay").load(path).count()
      require(v2Count == curCount,
        s"compaction must be snapshot-invisible: v2=$v2Count current=$curCount")
      path
    }

  /** Copy a prototype log directory file-by-file (KB-scale frames +
    * manifest metadata — milliseconds, vs the Spark write jobs that
    * built it). The queries exercising a DESTRUCTIVE lifecycle (DELETE,
    * snapshot expiry) each run against a fresh copy of a once-per-JVM
    * prototype: every run still executes the real operation under test
    * while the fixture build is paid once — the artifact playbook
    * applied to lifecycle fixtures. */
  private def copyLog(proto: String, prefix: String): String = {
    val dest = Workspace.fresh(prefix)
    new java.io.File(dest).mkdirs()
    Option(new java.io.File(proto).listFiles()).getOrElse(Array.empty)
      .filter(_.isFile).foreach { f =>
        java.nio.file.Files.copy(f.toPath,
          new java.io.File(dest, f.getName).toPath)
      }
    dest
  }

  /** Prototype for q_replay_expire: the three-generation (write, append,
    * compaction-overwrite) log, built once per (JVM, sf dir). */
  private def replayExpProtoFor(s: org.apache.spark.sql.SparkSession,
                                d: String): String =
    Workspace.once(s"replayexpp|$d") {
      import graft.sources.replay.ReplayLog
      val path = Workspace.fresh("replayexpp")
      val deps = Tables.events(s, d)
        .filter(col("value") > 0 && col("event_id") % 7 === 0).select(
          col("event_id").as("offset"),
          expr("unix_micros(ts) div 1000000").as("ts_unix"),
          col("user_id").cast("string").as("wallet_id"),
          col("value").as("amount"))
      val thr = deps.agg(max(col("offset"))).head().getLong(0) / 2
      ReplayLog.writeSegments(deps.filter(col("offset") < thr), path, 1)
      ReplayLog.writeSegments(deps.filter(col("offset") >= thr), path, 1)
      ReplayLog.compactSegments(s, path, target = 1)
      path
    }

  /** Prototype for q_replay_delete: the 2-segment log plus its victim
    * wallet (the slice's minimum), built once per (JVM, sf dir). */
  private def replayDelProtoFor(s: org.apache.spark.sql.SparkSession,
                                d: String): (String, String) =
    Workspace.once(s"replaydelp|$d") {
      import graft.sources.replay.ReplayLog
      val path = Workspace.fresh("replaydelp")
      val deps = Tables.events(s, d)
        .filter(col("value") > 0 && col("event_id") % 5 === 2).select(
          col("event_id").as("offset"),
          expr("unix_micros(ts) div 1000000").as("ts_unix"),
          col("user_id").cast("string").as("wallet_id"),
          col("value").as("amount"))
      ReplayLog.writeSegments(deps, path, 2)
      val victim = deps.agg(min(col("wallet_id").cast("long"))).head().getLong(0).toString
      (path, victim)
    }

  /** Probe-keys table for the runtime-pruning query: the top offset
    * quartile of the log's keys, bucketed by a non-key attribute. Built
    * ONCE per (JVM, sf dir) as parquet — the offset restriction lives in
    * the table's CONTENT, not in any read-side predicate, so the only
    * way the scan learns which segments matter is the runtime join-key
    * filter. */
  private def replayDimFor(s: org.apache.spark.sql.SparkSession,
                           d: String, logDir: String): String =
    Workspace.once(s"replaydim|$d") {
      val path = Workspace.fresh("replaydim")
      val thr = 3L * graft.sources.replay.ReplayLog.maxOffset(logDir) / 4
      Tables.events(s, d).filter(col("value") > 0 && col("event_id") >= thr)
        .select(col("event_id").as("k"), (col("user_id") % 7).as("bucket"))
        .coalesce(1)
        .write.mode("overwrite").parquet(path)
      path
    }

  val all: Seq[Q] = Seq(

    // Table maintenance exercised INSIDE a registered query (round-7
    // verdict item 6): the supplier table re-written as a 32-file spray
    // (the streaming-sink/over-partitioned-append shape), compacted by
    // the staged commit-gated rename-aside rewrite, re-read, aggregated.
    // The oracle reads the ORIGINAL table — compaction must be invisible
    // in the result — and the file count must actually collapse.
    Q("q_compaction_roundtrip",
      "SELECT s_nationkey, COUNT(*) AS n_suppliers, " +
        "ROUND(SUM(s_acctbal), 2) AS total_acctbal " +
        "FROM supplier GROUP BY 1 ORDER BY 1") { (s, d) =>
      // The 32-file spray is a once-per-JVM prototype; each run compacts
      // a fresh file-copy of it (the compaction under test still runs
      // for real — see copyLog).
      val proto = Workspace.once(s"frag|$d") {
        val p = Workspace.fresh("fragp")
        Tables.supplier(s, d).repartition(32).write.parquet(p)
        p
      }
      val dir = copyLog(proto, "frag")
      val (before, after) = Maintenance.compactParquet(s, dir)
      require(after < before, s"compaction did not reduce files: $before -> $after")
      s.read.parquet(dir)
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n_suppliers"),
          round(sum(col("s_acctbal")), 2).as("total_acctbal"))
        .orderBy(col("s_nationkey"))
    },

    // Sort-clustered data layout (lakehouse OPTIMIZE): lineitem sprayed
    // into a random 16-file layout, re-clustered in place by l_shipdate
    // (range shuffle + in-file sort via Maintenance.clusterParquet), then
    // served through a date-range predicate. The in-query requires pin
    // the LAYOUT contract — multiple output files whose per-file
    // [min, max] shipdate ranges are pairwise disjoint, which is what
    // makes parquet footer stats prune whole files at 100 TB — and the
    // oracle pins that relaying out the table is result-invisible.
    Q("q_clustered_scan",
      "SELECT l_returnflag, COUNT(*) AS n, " +
        "ROUND(SUM(l_extendedprice), 2) AS revenue " +
        "FROM lineitem " +
        "WHERE l_shipdate >= TIMESTAMP '1996-01-01' " +
        "AND l_shipdate < TIMESTAMP '1996-07-01' " +
        "GROUP BY 1 ORDER BY 1") { (s, d) =>
      // The clustered layout is built ONCE per JVM — the production
      // contract: layout maintenance is a scheduled job over closed
      // partitions, serving reads the maintained table. The layout
      // REQUIREs below run at standup; serves read the clustered files.
      val dir = Workspace.once(s"clus|$d") {
        val p = Workspace.fresh("clus")
        // Cluster the serving projection, not all 11 columns — the layout
        // contract is identical and the rewrite I/O is the 3 columns the
        // query reads (what a real layout job does for a hot projection).
        Tables.lineitem(s, d)
          .select(col("l_shipdate"), col("l_returnflag"), col("l_extendedprice"))
          .repartition(16).write.parquet(p)
        val sprayBytes = Option(new java.io.File(p).listFiles()).get
          .filter(_.getName.endsWith(".parquet")).map(_.length).sum
        // Budget = bytes/8: a constant ~8-file population at ANY scale (the
        // demo needs multiple disjoint ranges, not a fixed absolute size).
        val (_, after) = Maintenance.clusterParquet(s, p, Seq("l_shipdate"),
          targetFileBytes = math.max(32L * 1024, sprayBytes / 8))
        require(after > 1, s"need >1 clustered file to prove the layout, got $after")
        // Disjointness check over one row per FILE (bounded by file count,
        // not data): ordered by range start, no file may start at or before
        // the previous one's end. Range partitioning sends equal keys to
        // one partition, so strict ordering is the contract. The check runs
        // engine-side (lag window over file-count rows).
        val ranges = s.read.parquet(p)
          .groupBy(input_file_name().as("f"))
          .agg(min(col("l_shipdate")).as("lo"), max(col("l_shipdate")).as("hi"))
        val overlaps = ranges
          .withColumn("prev_hi", lag(col("hi"), 1).over(
            org.apache.spark.sql.expressions.Window.orderBy(col("lo"))))
          .filter(col("prev_hi").isNotNull && col("lo") <= col("prev_hi"))
          .count()
        require(overlaps == 0, s"$overlaps overlapping clustered file ranges")
        p
      }
      s.read.parquet(dir)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-07-01").cast("timestamp"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_extendedprice")), 2).as("revenue"))
        .orderBy(col("l_returnflag"))
    },

    // Multi-dimensional clustering via the codegen'd Morton code
    // (zorder2): after clustering lineitem by interleave(l_partkey,
    // l_suppkey), a 2-D box predicate can only live in files whose
    // per-dimension min reaches into the box — the in-query require
    // counts overlapping files from footer-equivalent per-file stats and
    // demands genuine skipping (< all files). Single-column sort layout
    // can never give this for BOTH dimensions at once; the space-filling
    // curve is the standard fix.
    Q("q_zorder_scan",
      "SELECT l_linestatus, COUNT(*) AS n, " +
        "ROUND(SUM(l_quantity), 2) AS qty " +
        "FROM lineitem WHERE l_partkey <= 400 AND l_suppkey <= 20 " +
        "GROUP BY 1 ORDER BY 1") { (s, d) =>
      val dir = Workspace.once(s"zord|$d") {
        val p = Workspace.fresh("zord")
        Tables.lineitem(s, d)
          .select(col("l_partkey"), col("l_suppkey"), col("l_linestatus"),
            col("l_quantity"))
          .repartition(16).write.parquet(p)
        val sprayBytes = Option(new java.io.File(p).listFiles()).get
          .filter(_.getName.endsWith(".parquet")).map(_.length).sum
        val (_, after) = Maintenance.clusterParquetByKey(s, p,
          df => call_function("zorder2",
            df.col("l_partkey").cast("int"), df.col("l_suppkey").cast("int")),
          targetFileBytes = math.max(32L * 1024, sprayBytes / 8))
        require(after > 1, s"need >1 clustered file to prove the layout, got $after")
        val stats = s.read.parquet(p)
          .groupBy(input_file_name().as("f"))
          .agg(min(col("l_partkey")).as("min_p"), min(col("l_suppkey")).as("min_s"))
          .agg(count(lit(1)).as("total"),
            sum(when(col("min_p") <= 400 && col("min_s") <= 20, 1)
              .otherwise(0)).as("overlapping"))
          .collect()(0)
        require(stats.getLong(1) < stats.getLong(0),
          s"z-order layout skipped nothing: ${stats.getLong(1)}/${stats.getLong(0)} files overlap the box")
        p
      }
      s.read.parquet(dir)
        .filter(col("l_partkey") <= 400 && col("l_suppkey") <= 20)
        .groupBy(col("l_linestatus"))
        .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("qty"))
        .orderBy(col("l_linestatus"))
    },

    // Tumbling event-time window (6 h), the batch form of the streaming
    // `window()` aggregation; start emitted as epoch seconds.
    Q("q_tumbling_window",
      "SELECT (epoch_us(ts) // 21600000000) * 21600 AS ws, event_type, " +
        "COUNT(*) AS n, ROUND(SUM(value), 2) AS total " +
        "FROM events GROUP BY 1, 2 ORDER BY 1, 2") { (s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "6 hours").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
        .select(unix_seconds(col("w.start")).as("ws"), col("event_type"),
          col("n"), col("total"))
        .orderBy(col("ws"), col("event_type"))
    },

    // Sliding window (6 h window, 3 h slide): every event lands in 2 windows.
    Q("q_sliding_window",
      "SELECT ws, event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS total FROM " +
        "(SELECT ((epoch_us(ts) // 1000000 - k * 10800) // 21600) * 21600 + k * 10800 AS ws, " +
        "event_type, value FROM events, range(0, 2) r(k)) " +
        "GROUP BY 1, 2 ORDER BY 1, 2") { (s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "6 hours", "3 hours").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
        .select(unix_seconds(col("w.start")).as("ws"), col("event_type"),
          col("n"), col("total"))
        .orderBy(col("ws"), col("event_type"))
    },

    // Session window (30-min gap) per wallet — batch `session_window`;
    // oracle = gaps-and-islands (sessions merge while gap <= 30 min,
    // matching Spark's touching-windows-merge semantics).
    Q("q_session_window",
      "WITH e AS (SELECT user_id AS wallet_id, epoch_us(ts) AS us, value FROM events), " +
        "m AS (SELECT *, CASE WHEN LAG(us) OVER w IS NULL " +
        "OR us - LAG(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS brk " +
        "FROM e WINDOW w AS (PARTITION BY wallet_id ORDER BY us)), " +
        "g AS (SELECT *, SUM(brk) OVER (PARTITION BY wallet_id ORDER BY us " +
        "ROWS UNBOUNDED PRECEDING) AS sid FROM m) " +
        "SELECT wallet_id, MIN(us) // 1000000 AS session_start, COUNT(*) AS n, " +
        "ROUND(SUM(value), 2) AS total FROM g GROUP BY wallet_id, sid " +
        "ORDER BY wallet_id, session_start") { (s, d) =>
      Tables.events(s, d)
        .groupBy(session_window(col("ts"), "30 minutes").as("w"),
          col("user_id").as("wallet_id"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
        .select(col("wallet_id"), unix_seconds(col("w.start")).as("session_start"),
          col("n"), col("total"))
        .orderBy(col("wallet_id"), col("session_start"))
    },

    // JSON extraction from the events.props payload column.
    Q("q_json_extract",
      "SELECT event_id, json_extract_string(props, '$.k')::BIGINT AS k " +
        "FROM events ORDER BY event_id") { (s, d) =>
      Tables.events(s, d)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .orderBy(col("event_id"))
    },

    // String scalar library over customer names.
    Q("q_string_library",
      "SELECT c_custkey, upper(c_name) AS up, substr(c_name, 1, 8) AS pre, " +
        "replace(c_name, 'Customer', 'C') AS rep, reverse(c_name) AS rev, " +
        "lpad(CAST(c_custkey AS VARCHAR), 12, '0') AS pad, " +
        "length(c_name)::BIGINT AS len, " +
        "levenshtein(c_name, 'Customer#000000001')::BIGINT AS dist " +
        "FROM customer ORDER BY c_custkey") { (s, d) =>
      Tables.customer(s, d).select(
          col("c_custkey"),
          upper(col("c_name")).as("up"),
          substring(col("c_name"), 1, 8).as("pre"),
          expr("replace(c_name, 'Customer', 'C')").as("rep"),
          reverse(col("c_name")).as("rev"),
          lpad(col("c_custkey").cast("string"), 12, "0").as("pad"),
          length(col("c_name")).cast("long").as("len"),
          levenshtein(col("c_name"), lit("Customer#000000001")).cast("long").as("dist"))
        .orderBy(col("c_custkey"))
    },

    // Exact percentiles (linear interpolation in both engines).
    Q("q_percentiles",
      "SELECT o_orderstatus, ROUND(quantile_cont(o_totalprice, 0.25), 4) AS q25, " +
        "ROUND(quantile_cont(o_totalprice, 0.5), 4) AS med, " +
        "ROUND(quantile_cont(o_totalprice, 0.75), 4) AS q75 " +
        "FROM orders GROUP BY 1 ORDER BY 1") { (s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderstatus"))
        .agg(
          round(expr("percentile(o_totalprice, 0.25)"), 4).as("q25"),
          round(expr("percentile(o_totalprice, 0.5)"), 4).as("med"),
          round(expr("percentile(o_totalprice, 0.75)"), 4).as("q75"))
        .orderBy(col("o_orderstatus"))
    },

    // Table generator: positional token explode (UDTF category).
    Q("q_posexplode_tokens",
      "SELECT doc_id, i - 1 AS pos, t[i] AS token FROM " +
        "(SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t " +
        "FROM documents WHERE doc_id < 20) x " +
        "JOIN range(1, 1000) r(i) ON i <= len(t) ORDER BY doc_id, pos") { (s, d) =>
      Tables.documents(s, d)
        .filter(col("doc_id") < 20)
        .select(col("doc_id"),
          posexplode(TextFunctions.tokens(col("text"))).as(Seq("pos", "token")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"), col("token"))
        .orderBy(col("doc_id"), col("pos"))
    },

    // LIKE predicates (prefix pushes down as StringStartsWith).
    Q("q_like_prefix",
      "SELECT c_custkey, c_name FROM customer " +
        "WHERE c_name LIKE 'Customer#00000001%' AND c_name NOT LIKE '%9' " +
        "ORDER BY c_custkey") { (s, d) =>
      Tables.customer(s, d)
        .where(col("c_name").like("Customer#00000001%") &&
          !col("c_name").like("%9"))
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    },

    // Regexp capture-group extraction from the JSON-ish props string.
    Q("q_regexp_extract",
      "SELECT event_id, CAST(regexp_extract(props, '\"k\": (\\d+)', 1) AS BIGINT) AS k " +
        "FROM events ORDER BY event_id") { (s, d) =>
      Tables.events(s, d)
        .select(col("event_id"),
          regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("long").as("k"))
        .orderBy(col("event_id"))
    },

    // CSV source under the correctness contract: spill a projection to CSV,
    // read it back, aggregate — must equal the same aggregate straight off
    // parquet (which is what the oracle computes).
    Q("q_csv_source",
      "SELECT user_id AS wallet_id, COUNT(*) AS n, ROUND(SUM(value), 2) AS total " +
        "FROM events GROUP BY 1 ORDER BY 1") { (s, d) =>
      // Under the workspace, removed at exit, like the ORC/JSONL spills —
      // a bare /tmp path leaked one ~1 MB dir per bench/verify run.
      val path = Workspace.fresh("csv")
      Tables.events(s, d).select(col("user_id"), col("value"))
        .write.mode("overwrite").option("header", "true").csv(path)
      s.read.option("header", "true")
        .schema("user_id LONG, value DOUBLE").csv(path)
        .groupBy(col("user_id").as("wallet_id"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
        .orderBy(col("wallet_id"))
    },

    // ORC source under the same contract (columnar format breadth —
    // Spark's built-in ORC reader, vectorized like parquet). The oracle
    // reads the original parquet, so the ORC spill+scan must be lossless
    // including decimals-as-double and string keys.
    Q("q_orc_source",
      "SELECT c_mktsegment, COUNT(*) AS n, ROUND(SUM(c_acctbal), 2) AS total " +
        "FROM customer GROUP BY 1 ORDER BY 1") { (s, d) =>
      val path = Workspace.fresh("orc")
      Tables.customer(s, d).select(col("c_mktsegment"), col("c_acctbal"))
        .write.mode("overwrite").orc(path)
      s.read.orc(path)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), round(sum(col("c_acctbal")), 2).as("total"))
        .orderBy(col("c_mktsegment"))
    },

    // JSON-lines source: schema-on-read with an explicit schema (never
    // inference at 100 TB — inference is a full extra scan) over a spilled
    // JSONL copy; oracle over the original parquet.
    Q("q_json_source",
      "SELECT n_regionkey, COUNT(*) AS n_nations, " +
        "MIN(n_name) AS first_nation FROM nation GROUP BY 1 ORDER BY 1") { (s, d) =>
      val path = Workspace.fresh("jsonl")
      Tables.nation(s, d).write.mode("overwrite").json(path)
      s.read.schema("n_nationkey LONG, n_name STRING, n_regionkey LONG, n_comment STRING")
        .json(path)
        .groupBy(col("n_regionkey"))
        .agg(count(lit(1)).as("n_nations"), min(col("n_name")).as("first_nation"))
        .orderBy(col("n_regionkey"))
    },

    // XML source (built into Spark SQL since 4.0): region round-trips
    // through an XML file with an explicit schema — same
    // write-read-aggregate contract as the ORC/JSON source queries; the
    // oracle reads the ORIGINAL table, so any row/value drift in the
    // format round-trip fails the hash.
    Q("q_xml_source",
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey") { (s, d) =>
      val path = Workspace.fresh("xml")
      Tables.region(s, d).select(col("r_regionkey"), col("r_name"))
        .write.mode("overwrite").option("rootTag", "regions").option("rowTag", "region")
        .format("xml").save(path)
      s.read.schema("r_regionkey LONG, r_name STRING")
        .option("rowTag", "region").format("xml").load(path)
        .select(col("r_regionkey"), col("r_name"))
        .orderBy(col("r_regionkey"))
    },

    // The engine's own DataSource V2 connector (`graft-replay`,
    // sources/replay/ReplaySource.scala) under the correctness contract:
    // the accepted-deposit projection of events is written ONCE per (JVM,
    // sf dir) as a 4-segment framed replay log — Kafka-envelope frames
    // carrying the reference's proto3 Deposit bytes — and the query is a
    // pure connector read: an offset-range predicate that the source
    // PRUNES SEGMENTS with at plan time (from name-carried bounds, no
    // I/O) and applies per-frame, then the per-wallet aggregate. The
    // pruning threshold comes from the log's own metadata
    // (ReplayLog.maxOffset reads segment names, no job); the oracle
    // replays the identical formula as a scalar subquery over events.
    // ReplaySourceSpec pins that the filter and the pruned read schema
    // actually reach the custom scan.
    Q("q_replay_source",
      "SELECT CAST(user_id AS VARCHAR) AS wallet_id, COUNT(*) AS n_deposits, " +
        "ROUND(SUM(value), 2) AS total_amount FROM events " +
        "WHERE value > 0 AND event_id >= " +
        "(SELECT MAX(event_id) // 2 FROM events WHERE value > 0) " +
        "GROUP BY 1 ORDER BY 1") { (s, d) =>
      val dir = replayLogFor(s, d)
      val thr = graft.sources.replay.ReplayLog.maxOffset(dir) / 2
      s.read.format("graft-replay").load(dir)
        .where(col("offset") >= thr)
        .groupBy(col("wallet_id"))
        .agg(count(lit(1)).as("n_deposits"),
          round(sum(col("amount")), 2).as("total_amount"))
        .orderBy(col("wallet_id"))
    },

    // TOP-N pushdown through the connector: ORDER BY offset DESC LIMIT n
    // plans only the n highest-bound segments (offset ranges are disjoint
    // by the writer's range partitioning, re-verified from name bounds)
    // and each reader emits its n extremes from a bounded heap — a
    // "latest n deposits" lookup on a million-segment archive reads n
    // files. Spark keeps the global TakeOrdered (partial-push contract);
    // ReplayOptimizerSpec pins the plan cut and heap bounding.
    Q("q_replay_topn",
      "SELECT event_id AS offset, CAST(user_id AS VARCHAR) AS wallet_id, " +
        "value AS amount FROM events WHERE value > 0 " +
        "ORDER BY event_id DESC LIMIT 25") { (s, d) =>
      val dir = replayLogFor(s, d)
      s.read.format("graft-replay").load(dir)
        .orderBy(col("offset").desc).limit(25)
        .select(col("offset"), col("wallet_id"), col("amount"))
    },

    // The `_segment` METADATA COLUMN (the file source's
    // _metadata.file_name / Kafka partition-column analog): per-frame
    // provenance surfaced only when selected. The census through it must
    // agree with the build convention (4 range segments) and the data's
    // own bounds; ReplayOptimizerSpec pins the stronger per-segment
    // range-partition properties the oracle can't express.
    Q("q_replay_segment_census",
      "SELECT 4 AS n_segments, COUNT(*) AS n_frames, " +
        "MIN(event_id) AS min_offset, MAX(event_id) AS max_offset " +
        "FROM events WHERE value > 0") { (s, d) =>
      val dir = replayLogFor(s, d)
      s.read.format("graft-replay").load(dir)
        .agg(countDistinct(col("_segment")).cast("int").as("n_segments"),
          count(lit(1)).as("n_frames"),
          min(col("offset")).as("min_offset"), max(col("offset")).as("max_offset"))
    },

    // The connector through the SQL-TEXT layer: a named relation bound
    // with CREATE TEMPORARY VIEW ... USING graft-replay (the DDL path a
    // SQL-only user takes), then plain SQL over it — same pushdown stack
    // underneath (the offset predicate still prunes segments), proving
    // the TableProvider surface is not DataFrame-API-only.
    Q("q_replay_sql_ddl",
      "SELECT CAST(user_id AS VARCHAR) AS wallet_id, " +
        "ROUND(SUM(value), 2) AS total_amount, COUNT(*) AS n_deposits " +
        "FROM events WHERE value > 0 AND event_id % 3 = 0 " +
        "GROUP BY 1 HAVING COUNT(*) >= 2 ORDER BY 1") { (s, d) =>
      val dir = replayLogFor(s, d)
      s.sql("CREATE OR REPLACE TEMPORARY VIEW graft_replay_log " +
        s"USING `graft-replay` OPTIONS (path '$dir')")
      s.sql("SELECT wallet_id, ROUND(SUM(amount), 2) AS total_amount, " +
        "COUNT(*) AS n_deposits FROM graft_replay_log " +
        "WHERE offset % 3 = 0 GROUP BY 1 HAVING COUNT(*) >= 2 ORDER BY 1")
    },

    // SNAPSHOT TIME TRAVEL through the connector (the Iceberg/Delta
    // pattern on the one-file manifest protocol): every commit records
    // an immutable `_manifest-v<N>`, reads resolve the live set through
    // `.option("asOfVersion", n)`, and overwrites/compactions retain
    // retired segments until ReplayLog.expireSnapshots (the VACUUM).
    // The fixture commits three generations — genesis write, append,
    // compaction overwrite — and this row reads the GENESIS snapshot and
    // the CURRENT state in one result; the oracle replays both from the
    // events projection, so a snapshot that leaks post-genesis frames
    // (or a current read that lost any through the compaction) fails
    // the hash. ReplaySourceSpec pins retention, expiry, chain healing,
    // and the read-only/batch-only contract.
    Q("q_replay_time_travel",
      "WITH dep AS (SELECT event_id AS off, CAST(user_id AS VARCHAR) AS wallet_id, " +
        "value AS amount FROM events WHERE value > 0), " +
        "thr AS (SELECT MAX(off) // 2 AS t FROM dep) " +
        "SELECT 'v1_genesis' AS snapshot, COUNT(*) AS n_frames, " +
        "COUNT(DISTINCT wallet_id) AS n_wallets, " +
        "ROUND(SUM(amount), 2) AS total_amount " +
        "FROM dep WHERE off < (SELECT t FROM thr) " +
        "UNION ALL " +
        "SELECT 'v3_current', COUNT(*), COUNT(DISTINCT wallet_id), " +
        "ROUND(SUM(amount), 2) FROM dep " +
        "ORDER BY snapshot") { (s, d) =>
      val dir = replayTtFor(s, d)
      def summarize(df: org.apache.spark.sql.DataFrame, label: String) =
        df.agg(count(lit(1)).as("n_frames"),
            countDistinct(col("wallet_id")).as("n_wallets"),
            round(sum(col("amount")), 2).as("total_amount"))
          .select(lit(label).as("snapshot"), col("n_frames"),
            col("n_wallets"), col("total_amount"))
      summarize(s.read.format("graft-replay")
          .option("asOfVersion", "1").load(dir), "v1_genesis")
        .unionAll(summarize(s.read.format("graft-replay").load(dir), "v3_current"))
        .orderBy(col("snapshot"))
    },

    // DELETE FROM under the oracle gate — the GDPR wallet-erasure
    // lifecycle on a THROWAWAY log: the copy-on-write delete removes one
    // wallet's frames from the live table (per-segment rewrite tasks,
    // -g generation names so the pre-delete snapshot keeps its files),
    // the in-query requires pin the lifecycle (pre-delete snapshot
    // still serves the wallet = deletion is snapshot-isolated;
    // expireSnapshots then reclaims the originals = the actual erasure
    // point), and the surviving read is hash-checked against the
    // oracle's events-minus-wallet replay. ReplayDeleteSpec pins the
    // bounds-planned I/O (retention cut reads one boundary segment).
    Q("q_replay_delete",
      "WITH dep AS (SELECT event_id AS off, CAST(user_id AS VARCHAR) AS wallet_id, " +
        "value AS amount FROM events WHERE value > 0 AND event_id % 5 = 2), " +
        "victim AS (SELECT MIN(user_id) AS w FROM events " +
        "WHERE value > 0 AND event_id % 5 = 2) " +
        "SELECT wallet_id, COUNT(*) AS n_deposits, " +
        "ROUND(SUM(amount), 2) AS total_amount FROM dep " +
        "WHERE wallet_id <> CAST((SELECT w FROM victim) AS VARCHAR) " +
        "GROUP BY 1 ORDER BY 1") { (s, d) =>
      import graft.sources.replay.ReplayLog
      // Fresh COPY of the once-per-JVM prototype: the destructive
      // lifecycle (DELETE + expire) runs for real every time, the
      // fixture's Spark build jobs are paid once (see copyLog).
      val (proto, victim) = replayDelProtoFor(s, d)
      val dir = copyLog(proto, "replaydel")
      val tbl = new java.io.File(dir).getName
      s.conf.set("spark.sql.catalog.graft_replay",
        "graft.sources.replay.ReplayCatalog")
      s.conf.set("spark.sql.catalog.graft_replay.root", Workspace.root)
      s.sql(s"DELETE FROM graft_replay.`$tbl` WHERE wallet_id = '$victim'")
      // Snapshot isolation: the pre-delete snapshot still serves the
      // wallet; expiry reclaims the originals (the erasure point).
      val vs = ReplayLog.versions(dir)
      val preDelete = s.read.format("graft-replay")
        .option("asOfVersion", (vs.last - 1).toString).load(dir)
        .where(col("wallet_id") === victim).count()
      require(preDelete > 0, "pre-delete snapshot lost the wallet")
      val (expired, dropped) = ReplayLog.expireSnapshots(dir, keepLast = 1)
      require(expired >= 1 && dropped >= 1,
        s"expiry reclaimed nothing: ($expired, $dropped)")
      s.read.format("graft-replay").load(dir)
        .groupBy(col("wallet_id"))
        .agg(count(lit(1)).as("n_deposits"),
          round(sum(col("amount")), 2).as("total_amount"))
        .orderBy(col("wallet_id"))
    },

    // The CATALOG plugin under the oracle gate: the same three-generation
    // log addressed as a catalog TABLE (spark.sql.catalog.graft_replay =
    // ReplayCatalog, root = the fixture scratch), read with Spark's OWN
    // time-travel syntax — `VERSION AS OF 1` resolving through the
    // snapshot chain via TableCatalog.loadTable(ident, version) — plus
    // the current head by bare name. The last DSv2 ladder rung: no path,
    // no option, pure SQL. ReplayCatalogSpec pins DDL, TIMESTAMP AS OF,
    // and pushdown-through-catalog.
    Q("q_replay_catalog",
      "WITH dep AS (SELECT event_id AS off, value AS amount FROM events " +
        "WHERE value > 0), " +
        "thr AS (SELECT MAX(off) // 2 AS t FROM dep) " +
        "SELECT 'head' AS snapshot, COUNT(*) AS n_frames, " +
        "ROUND(SUM(amount), 2) AS total_amount FROM dep " +
        "UNION ALL " +
        "SELECT 'v1_genesis', COUNT(*), ROUND(SUM(amount), 2) " +
        "FROM dep WHERE off < (SELECT t FROM thr) " +
        "ORDER BY snapshot") { (s, d) =>
      val dir = replayTtFor(s, d)
      val tbl = new java.io.File(dir).getName
      s.conf.set("spark.sql.catalog.graft_replay",
        "graft.sources.replay.ReplayCatalog")
      s.conf.set("spark.sql.catalog.graft_replay.root", Workspace.root)
      s.sql(
        "SELECT 'head' AS snapshot, COUNT(*) AS n_frames, " +
          s"ROUND(SUM(amount), 2) AS total_amount FROM graft_replay.`$tbl` " +
          "UNION ALL " +
          "SELECT 'v1_genesis', COUNT(*), ROUND(SUM(amount), 2) " +
          s"FROM graft_replay.`$tbl` VERSION AS OF 1 " +
          "ORDER BY snapshot")
    },

    // The SNAPSHOT-HISTORY metadata table (Iceberg's `.snapshots`
    // analog): one row per retained version — segment count from the
    // snapshot manifest (driver-side names only), frame count and offset
    // bounds answered through the connector's PUSHED AGGREGATES on the
    // time-traveled scan (min/max from name bounds with zero I/O, count
    // from the envelope walk) — so the whole history table costs three
    // metadata-sized jobs, never a data read. The oracle derives every
    // version's expected state from the fixture's committed generations.
    Q("q_replay_snapshots",
      "WITH dep AS (SELECT event_id AS off, value AS amount FROM events " +
        "WHERE value > 0), " +
        "thr AS (SELECT MAX(off) // 2 AS t FROM dep), " +
        "g AS (SELECT COUNT(*) AS n, MIN(off) AS mn, MAX(off) AS mx " +
        "FROM dep WHERE off < (SELECT t FROM thr)), " +
        "a AS (SELECT COUNT(*) AS n, MIN(off) AS mn, MAX(off) AS mx FROM dep) " +
        "SELECT * FROM (" +
        "SELECT CAST(1 AS BIGINT) AS version, CAST(2 AS BIGINT) AS n_segments, " +
        "g.n AS n_frames, g.mn AS min_offset, g.mx AS max_offset FROM g " +
        "UNION ALL SELECT 2, 4, a.n, a.mn, a.mx FROM a " +
        "UNION ALL SELECT 3, 2, a.n, a.mn, a.mx FROM a) " +
        "ORDER BY version") { (s, d) =>
      import graft.sources.replay.ReplayLog
      val dir = replayTtFor(s, d)
      ReplayLog.versions(dir).map { v =>
        s.read.format("graft-replay").option("asOfVersion", v.toString)
          .load(dir)
          .agg(count(lit(1)).as("n_frames"),
            min(col("offset")).as("min_offset"),
            max(col("offset")).as("max_offset"))
          .select(lit(v).as("version"),
            lit(ReplayLog.segments(dir, Some(v)).size.toLong).as("n_segments"),
            col("n_frames"), col("min_offset"), col("max_offset"))
      }.reduce(_ unionAll _).orderBy(col("version"))
    },

    // SNAPSHOT EXPIRY (VACUUM) under the oracle gate: a THROWAWAY log is
    // committed in three generations (write, append, compaction
    // overwrite) and then expired down to the latest snapshot —
    // expireSnapshots must reclaim exactly the compaction's retirees
    // (asserted in-query: 2 expired versions, 2 reclaimed files, 1 live
    // file on disk) while the surviving read stays bit-identical to the
    // oracle's replay of the full projection. A narrow slice (off % 7 =
    // 0) keeps the per-run rebuild cheap; the lifecycle, not the volume,
    // is what's under test (the same precedent as q_compaction_roundtrip).
    Q("q_replay_expire",
      "WITH dep AS (SELECT event_id AS off, CAST(user_id AS VARCHAR) AS wallet_id, " +
        "value AS amount FROM events WHERE value > 0 AND event_id % 7 = 0) " +
        "SELECT CAST(1 AS BIGINT) AS n_files, COUNT(*) AS n_frames, " +
        "COUNT(DISTINCT wallet_id) AS n_wallets, " +
        "ROUND(SUM(amount), 2) AS total_amount FROM dep") { (s, d) =>
      import graft.sources.replay.ReplayLog
      // Fresh COPY of the once-per-JVM three-generation prototype: the
      // expiry under test runs for real every time, the fixture's Spark
      // build jobs are paid once (see copyLog).
      val dir = copyLog(replayExpProtoFor(s, d), "replayexp")
      val (expired, dropped) = ReplayLog.expireSnapshots(dir, keepLast = 1)
      require(expired == 2 && dropped == 2,
        s"expire reclaimed ($expired versions, $dropped files), expected (2, 2)")
      val live = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
        .count(_.getName.endsWith(ReplayLog.Extension))
      s.read.format("graft-replay").load(dir)
        .agg(count(lit(1)).as("n_frames"),
          countDistinct(col("wallet_id")).as("n_wallets"),
          round(sum(col("amount")), 2).as("total_amount"))
        .select(lit(live.toLong).as("n_files"), col("n_frames"),
          col("n_wallets"), col("total_amount"))
    },

    // RUNTIME (DPP-analog) filtering through the connector: the probe
    // side is a "recent keys" table whose offset range is a property of
    // its CONTENT (written at build time), not an in-plan predicate — so
    // nothing is statically inferable onto the scan, and only the
    // runtime IN over the join keys (broadcast-reused, injected by
    // Spark's PartitionPruning rule via SupportsRuntimeFiltering) can
    // prune segments. At 100 TB: read the probe keys' segments, not the
    // retention window. ReplayOptimizerSpec pins that the filter reaches
    // the scan and re-prunes; this row pins the semantics.
    Q("q_replay_runtime_prune",
      "WITH log AS (SELECT event_id AS offset, CAST(user_id AS VARCHAR) AS wallet_id, " +
        "value AS amount FROM events WHERE value > 0), " +
        "dim AS (SELECT event_id AS k, user_id % 7 AS bucket FROM events " +
        "WHERE value > 0 AND event_id >= " +
        "3 * (SELECT MAX(event_id) FROM events WHERE value > 0) // 4) " +
        "SELECT l.wallet_id, COUNT(*) AS n_deposits, " +
        "ROUND(SUM(l.amount), 2) AS total_amount " +
        "FROM log l JOIN dim ON l.offset = dim.k AND dim.bucket = 0 " +
        "GROUP BY 1 ORDER BY 1") { (s, d) =>
      val dir = replayLogFor(s, d)
      val dimPath = replayDimFor(s, d, dir)
      val dim = s.read.parquet(dimPath).where(col("bucket") === 0L)
      val fact = s.read.format("graft-replay").load(dir)
      fact.join(dim, fact("offset") === dim("k"))
        .groupBy(col("wallet_id"))
        .agg(count(lit(1)).as("n_deposits"),
          round(sum(col("amount")), 2).as("total_amount"))
        .orderBy(col("wallet_id"))
    },

    // AGGREGATE pushdown through the connector: COUNT/MIN/MAX over the
    // whole log are answered per segment from metadata — min/max straight
    // from the name-carried bounds (zero I/O), count from an
    // envelope-header walk (no key copy, no proto decode) — and Spark
    // folds the one-row-per-segment partials. The oracle replays the
    // same aggregates over the events projection the log was built from,
    // so a wrong bound or count in any segment NAME fails the hash.
    Q("q_replay_agg_pushdown",
      "SELECT COUNT(*) AS n_frames, MIN(event_id) AS min_offset, " +
        "MAX(event_id) AS max_offset, " +
        "MIN(epoch_us(ts) // 1000000) AS min_ts, " +
        "MAX(epoch_us(ts) // 1000000) AS max_ts " +
        "FROM events WHERE value > 0") { (s, d) =>
      val dir = replayLogFor(s, d)
      s.read.format("graft-replay").load(dir)
        .agg(count(lit(1)).as("n_frames"),
          min(col("offset")).as("min_offset"), max(col("offset")).as("max_offset"),
          min(col("ts_unix")).as("min_ts"), max(col("ts_unix")).as("max_ts"))
    },

    // The connector's STREAMING WRITE leg, source→engine→sink entirely
    // through `graft-replay`: the log is consumed by offset range (2
    // segments per trigger), filtered, and every micro-batch publishes
    // through the same staged-temp + atomic-manifest commit as the batch
    // writer, keyed by epoch id (a replayed batch publishes nothing
    // twice — ReplayOptimizerSpec pins restart idempotence). The batch
    // read-back of the SINK's log is what the oracle checks, so a lost
    // or duplicated epoch fails the hash.
    Q("stream_replay_roundtrip",
      "SELECT CAST(user_id AS VARCHAR) AS wallet_id, COUNT(*) AS n_deposits, " +
        "ROUND(SUM(value), 2) AS total_amount FROM events " +
        "WHERE value >= 10 GROUP BY 1 ORDER BY 1") { (s, d) =>
      val src = replayLogFor(s, d)
      val out = Workspace.fresh("replay_sink")
      val cp = Workspace.fresh("replay_sink_cp")
      val q = s.readStream.format("graft-replay")
        .option("maxSegmentsPerTrigger", "2").load(src)
        .where(col("amount") >= 10.0)
        .writeStream.format("graft-replay")
        .option("checkpointLocation", cp).start(out)
      try q.processAllAvailable() finally q.stop()
      s.read.format("graft-replay").load(out)
        .groupBy(col("wallet_id"))
        .agg(count(lit(1)).as("n_deposits"),
          round(sum(col("amount")), 2).as("total_amount"))
        .orderBy(col("wallet_id"))
    },

    // SQL-text layer: the same engine through spark.sql over registered
    // views, with an uncorrelated scalar subquery.
    Q("q_sql_scalar_subquery",
      "SELECT o_orderkey, o_totalprice FROM orders " +
        "WHERE o_totalprice > (SELECT 1.9 * avg(o_totalprice) FROM orders) " +
        "ORDER BY o_orderkey") { (s, d) =>
      Tables.registerAll(s, d)
      s.sql("SELECT o_orderkey, o_totalprice FROM orders " +
        "WHERE o_totalprice > (SELECT 1.9 * avg(o_totalprice) FROM orders) " +
        "ORDER BY o_orderkey")
    },

    // Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): the NULL
    // status group must match ITSELF across the self-join — a plain `=`
    // join silently drops it (three-valued logic), which is exactly the
    // bug class this operator exists to avoid in keyed merges with
    // nullable keys.
    Q("q_null_safe_join",
      "WITH s AS (SELECT NULLIF(o_orderstatus, 'P') AS st, COUNT(*) AS n " +
        "FROM orders GROUP BY 1) " +
        "SELECT COALESCE(a.st, '(null)') AS status, a.n AS n_a, b.n AS n_b " +
        "FROM s a JOIN s b ON a.st IS NOT DISTINCT FROM b.st ORDER BY status") { (s, d) =>
      val base = Tables.orders(s, d)
        .groupBy(nullif(col("o_orderstatus"), lit("P")).as("st"))
        .agg(count(lit(1)).as("n"))
      base.as("a").join(base.as("b"), col("a.st") <=> col("b.st"))
        .select(coalesce(col("a.st"), lit("(null)")).as("status"),
          col("a.n").as("n_a"), col("b.n").as("n_b"))
        .orderBy(col("status"))
    },

    // Spark 4 SQL UDF DDL (CREATE FUNCTION ... RETURN <expr>): the
    // declarative UDF path — the body is inlined into the plan by the
    // analyzer, so it stays inside codegen like any built-in (unlike a
    // JVM closure UDF, which is an opaque black box to the optimizer).
    // The oracle states the inlined expression directly.
    Q("q_sql_udf",
      "SELECT l_returnflag, " +
        "SUM(CAST(ROUND(l_extendedprice*(1-l_discount)*10000) AS BIGINT))/10000.0 AS revenue " +
        "FROM lineitem GROUP BY 1 ORDER BY 1") { (s, d) =>
      Tables.registerAll(s, d)
      s.sql("CREATE OR REPLACE TEMPORARY FUNCTION graft_disc_price(p DOUBLE, d DOUBLE) " +
        "RETURNS DOUBLE RETURN p * (1 - d)")
      // 10000.0 is a DECIMAL literal in Spark SQL (but a plain double in
      // DuckDB and in the DataFrame API) — divide by a double explicitly.
      s.sql("SELECT l_returnflag, " +
        "SUM(CAST(ROUND(graft_disc_price(l_extendedprice, l_discount)*10000) AS BIGINT))/CAST(10000.0 AS DOUBLE) AS revenue " +
        "FROM lineitem GROUP BY 1 ORDER BY 1")
    },

    // Correlated LATERAL subquery with ORDER BY + LIMIT: per-region top-2
    // nations by name — the SQL-standard lateral form of grouped top-k
    // (the DataFrame form is q_window_rank's rank-filter).
    Q("q_lateral_topk",
      "SELECT r_name, n_name FROM region r, " +
        "LATERAL (SELECT n_name FROM nation n WHERE n.n_regionkey = r.r_regionkey " +
        "ORDER BY n_name LIMIT 2) t ORDER BY r_name, n_name") { (s, d) =>
      Tables.registerAll(s, d)
      s.sql("SELECT r_name, n_name FROM region r, " +
        "LATERAL (SELECT n_name FROM nation n WHERE n.n_regionkey = r.r_regionkey " +
        "ORDER BY n_name LIMIT 2) t ORDER BY r_name, n_name")
    },

    // MERGE INTO (Delta-style CDC apply) as one full-outer shuffle on the
    // key: target = per-user balance snapshot through Jan 15, source =
    // per-user change batch after it (net delta + last event type, the
    // "latest wins" CDC convention via max_by on the (ts, event_id)
    // order). Row action is the standard matrix — unmatched source ⇒
    // insert, unmatched target ⇒ keep, matched with last_type='error' ⇒
    // delete (tombstone), else update — and deletes drop out of the
    // output. At scale this is exactly one co-partitioned full-outer
    // join (both sides pre-aggregated on the join key, map-side
    // combined); no driver round trip, no row-at-a-time apply loop.
    Q("q_merge_upsert",
      "WITH base AS (SELECT user_id, SUM(value) AS bal FROM events " +
        "WHERE ts < TIMESTAMP '2024-01-16 00:00:00' GROUP BY 1), " +
        // (ts, event_id) tiebreak as one zero-padded string key:
        // lexicographic order = numeric order, and DuckDB's arg_max
        // lacks a composite-key overload.
        "chg AS (SELECT user_id, SUM(value) AS delta, " +
        "arg_max(event_type, lpad(epoch_us(ts)::VARCHAR, 20, '0') || " +
        "lpad(event_id::VARCHAR, 10, '0')) AS last_type FROM events " +
        "WHERE ts >= TIMESTAMP '2024-01-16 00:00:00' GROUP BY 1), " +
        "m AS (SELECT COALESCE(base.user_id, chg.user_id) AS user_id, " +
        "ROUND(COALESCE(bal, 0) + COALESCE(delta, 0), 2) AS balance, " +
        "CASE WHEN base.user_id IS NULL THEN 'insert' " +
        "WHEN chg.user_id IS NULL THEN 'keep' " +
        "WHEN last_type = 'error' THEN 'delete' ELSE 'update' END AS action " +
        "FROM base FULL OUTER JOIN chg ON base.user_id = chg.user_id) " +
        "SELECT user_id, balance, action FROM m WHERE action != 'delete' " +
        "ORDER BY user_id") { (s, d) =>
      val ev = Tables.events(s, d)
      val split = lit("2024-01-16 00:00:00").cast("timestamp")
      // Both sides derive from the same scan — aliased (self-join rule).
      val base = ev.where(col("ts") < split)
        .groupBy(col("user_id").as("bk")).agg(sum(col("value")).as("bal"))
      val chg = ev.where(col("ts") >= split)
        .groupBy(col("user_id").as("ck")).agg(sum(col("value")).as("delta"),
          max_by(col("event_type"),
            concat(lpad(expr("unix_micros(ts)").cast("string"), 20, "0"),
              lpad(col("event_id").cast("string"), 10, "0"))).as("last_type"))
      base.join(chg, col("bk") === col("ck"), "full_outer")
        .select(
          coalesce(col("bk"), col("ck")).as("user_id"),
          round(coalesce(col("bal"), lit(0)) + coalesce(col("delta"), lit(0)), 2)
            .as("balance"),
          when(col("bk").isNull, "insert")
            .when(col("ck").isNull, "keep")
            .when(col("last_type") === "error", "delete")
            .otherwise("update").as("action"))
        .where(col("action") =!= "delete")
        .orderBy(col("user_id"))
    },

    // Incremental view maintenance for an algebraic aggregate: a
    // materialized per-user (count, sum, avg) view built from the base
    // partition is refreshed with a delta batch by MERGING partial states
    // — counts and sums add, avg re-derives from the merged (sum, count)
    // — never by re-reading the base. The oracle is the full recompute:
    // refresh(base) ⊕ delta ≡ recompute(base ∪ delta) is the IVM
    // correctness contract. At scale this is the foreachBatch upsert
    // path: the delta agg is proportional to the BATCH, the full-outer
    // merge shuffles only on user_id, and the base is never rescanned.
    Q("q_ivm_refresh",
      "SELECT user_id, COUNT(*)::BIGINT AS n_events, " +
        "ROUND(SUM(value), 2) AS total, " +
        "ROUND(ROUND(SUM(value), 2) / COUNT(*), 6) AS avg_value " +
        "FROM events GROUP BY 1 ORDER BY user_id") { (s, d) =>
      val ev = Tables.events(s, d)
      val split = lit("2024-01-16 00:00:00").cast("timestamp")
      def part(df: org.apache.spark.sql.DataFrame, side: String) =
        df.groupBy(col("user_id").as(s"k_$side"))
          .agg(count(lit(1)).as(s"n_$side"), sum(col("value")).as(s"s_$side"))
      val base = part(ev.where(col("ts") < split), "b")
      val delta = part(ev.where(col("ts") >= split), "d")
      base.join(delta, col("k_b") === col("k_d"), "full_outer")
        .select(
          coalesce(col("k_b"), col("k_d")).as("user_id"),
          (coalesce(col("n_b"), lit(0L)) + coalesce(col("n_d"), lit(0L))).as("n_events"),
          (coalesce(col("s_b"), lit(0.0)) + coalesce(col("s_d"), lit(0.0))).as("s"))
        // avg re-derives from the ROUNDED merged sum so the division's
        // inputs are bit-identical to the oracle's (partitioned partial
        // sums vs one full sum differ at ~1e-12 — enough to flip a 6-dp
        // round exactly at a boundary, observed at sf0.01).
        .select(col("user_id"), col("n_events"), round(col("s"), 2).as("total"),
          round(round(col("s"), 2) / col("n_events"), 6).as("avg_value"))
        .orderBy(col("user_id"))
    }
  )
}

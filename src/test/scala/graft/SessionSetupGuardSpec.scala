package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source scan that keeps session setup in one place: every session of
  * `src/main` comes from [[GraftSession]], the native functions come from
  * the extension it installs, no session needs a planner strategy,
  * state-store and checkpoint settings live in its one map, and loaders
  * set no session conf. The query packs get the
  * same treatment: one workspace ([[queries.Workspace]]), no env-var
  * forks, and the stream queries start through one harness. One
  * function wires the three keyed processors, one place sorts a deposit
  * batch for the keyed fold, and one function decodes the deposit topic
  * (beside the codec's own round-trip query). Persisted
  * indexes have one identity: one fingerprint and one root, both in
  * [[operators.IndexCache]]. Knobs are read by the mains alone, and specs
  * take their scratch directories from [[TestDirs]]. The query packs'
  * DuckDB oracles write each shared fragment once. */
class SessionSetupGuardSpec extends AnyFunSuite {

  private def scalaFiles(root: String): Seq[Path] = {
    val dir = Paths.get(root)
    assert(Files.isDirectory(dir), s"$root not found from ${Paths.get("").toAbsolutePath}")
    val walk = Files.walk(dir)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  /** (file name, line number) of every line of `files` that `p` accepts. */
  private def hitsWhere(files: Seq[Path])(p: String => Boolean): Seq[(String, Int)] =
    files.flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if p(line) => (f.getFileName.toString, i + 1)
      }
    }

  /** (file name, line number) of every line of `files` that contains `needle`. */
  private def hits(files: Seq[Path], needle: String): Seq[(String, Int)] =
    hitsWhere(files)(_.contains(needle))

  private lazy val main = scalaFiles("src/main/scala")

  test("src/main builds no SparkSession outside GraftSession") {
    val found = hits(main, "SparkSession.builder(")
    assert(found.nonEmpty && found.forall(_._1 == "GraftSession.scala"), found)
  }

  test("src/main calls GraftFunctions.register at most once, as GraftSession's fallback") {
    val found = hits(main, "GraftFunctions.register(").filterNot(_._1 == "GraftFunctions.scala")
    assert(found.size <= 1 && found.forall(_._1 == "GraftSession.scala"), found)
  }

  test("src/main sets state-store and checkpoint confs only in GraftSession") {
    val found = Seq("spark.sql.streaming.stateStore.", "checkpointFileManagerClass")
      .flatMap(hits(main, _))
    assert(found.nonEmpty && found.forall(_._1 == "GraftSession.scala"), found)
  }

  test("the table loaders set no session conf") {
    val tables = main.filter(_.getFileName.toString == "Tables.scala")
    assert(tables.size == 1, tables)
    val found = hits(tables, "conf.set")
    assert(found.isEmpty, found)
  }

  private lazy val queryPacks = scalaFiles("src/main/scala/graft/queries")

  test("the query packs make temp paths and exit hooks only in Workspace") {
    val found = Seq("addShutdownHook", "java.io.tmpdir", "UUID.randomUUID")
      .flatMap(hits(queryPacks, _))
    assert(found.nonEmpty && found.forall(_._1 == "Workspace.scala"), found)
  }

  test("the query packs read no environment variable") {
    val found = hits(queryPacks, "sys.env")
    assert(found.isEmpty, found)
  }

  test("StreamQueries starts its streams from at most 3 writeStream sites") {
    val found = hits(queryPacks.filter(_.getFileName.toString == "StreamQueries.scala"),
      "writeStream")
    assert(found.nonEmpty && found.size <= 3, found)
  }

  test("src/main wires the three processors only in KafkaTopology.runProcessors") {
    Seq("collector", "detector", "flagger").foreach { p =>
      val found = hits(main, s"DepositStreams.$p(")
      assert(found.map(_._1) == Seq("KafkaTopology.scala"), (p, found))
    }
    // ... and inside runProcessors: after its def, before the next member.
    val topology = main.filter(_.getFileName.toString == "KafkaTopology.scala")
    val lines = Files.readAllLines(topology.head).asScala
    val start = lines.indexWhere(_.contains("def runProcessors("))
    val end = lines.indexWhere(l => l.startsWith("  def ") || l.startsWith("  val ") || l == "}",
      start + 1)
    val calls = hits(topology, "DepositStreams.").map(_._2 - 1)
    assert(start >= 0 && calls.size == 3 && calls.forall(i => i > start && i < end),
      (start, end, calls))
  }

  test("src/main/scala/graft/streaming sorts a deposit batch by (tsUnix, seq) in one place") {
    val sort = """sortBy\(.*tsUnix.*seq""".r
    val found = hitsWhere(scalaFiles("src/main/scala/graft/streaming"))(sort.findFirstIn(_).nonEmpty)
    assert(found.map(_._1) == Seq("DepositStreams.scala"), found)
  }

  test("src/main decodes the deposit topic only in KafkaTopology and the codec round trip") {
    val decode = """proto_decode_deposit["(]""".r
    val found = hitsWhere(main)(decode.findFirstIn(_).nonEmpty)
    assert(found.map(_._1).sorted == Seq("KafkaTopology.scala", "SerdeQueries.scala"), found)
  }

  test("src/main folds a content fingerprint (bit_xor) only in IndexCache") {
    val found = hits(main, "bit_xor")
    assert(found.nonEmpty && found.forall(_._1 == "IndexCache.scala"), found)
  }

  test("the query packs keep a per-JVM build cache only in Workspace") {
    val found = hits(queryPacks, "computeIfAbsent")
    assert(found.nonEmpty && found.forall(_._1 == "Workspace.scala"), found)
  }

  test("every persisted index lives under the one IndexCache root") {
    // Needles spelled in two parts, so this file is no hit of its own scan.
    val found = Seq("graft_" + "annidx", "graft_" + "lshidx", "userScopedRoot" + "(")
      .flatMap(hits(main ++ scalaFiles("src/test/scala"), _))
      .filterNot(_._1 == "IndexCache.scala")
    assert(found.isEmpty, found)
  }

  test("src/main adds no planner strategy") {
    val found = Seq("extraStrategies", "injectPlannerStrategy").flatMap(hits(main, _))
    assert(found.isEmpty, found)
    // Nor does it reach into Spark's own packages for private API.
    val sparkPkg = Paths.get("src/main/scala/org/apache/spark")
    val walk = if (Files.exists(sparkPkg)) Files.walk(sparkPkg) else java.util.stream.Stream.empty[Path]()
    val inSpark = try walk.iterator().asScala.filter(Files.isRegularFile(_)).toList finally walk.close()
    assert(inSpark.isEmpty, inSpark)
  }

  test("src/main reads environment variables only in its three mains and IndexCache") {
    val found = hits(main, "sys.env").map(_._1).toSet
    assert(found == Set("Bench.scala", "Verify.scala", "Explain.scala", "IndexCache.scala"), found)
  }

  test("src/main reaches a Hadoop FileSystem only in CheckpointFiles") {
    // Every other rename goes through java.io/java.nio and checks its
    // result; a Hadoop `file:` rename may be Hive's proxy, which returns
    // false on an existing target instead of replacing it.
    val found = Seq("getFileSystem", "FileSystem.get").flatMap(hits(main, _))
    assert(found.nonEmpty && found.forall(_._1 == "CheckpointFiles.scala"), found)
  }

  private def operator(name: String): Seq[Path] = {
    val f = scalaFiles("src/main/scala/graft/operators").filter(_.getFileName.toString == name)
    assert(f.size == 1, f)
    f
  }

  // The ANN and MinHash kernels: each repeated stage is one private helper,
  // so a probe, scoring or candidate rule has one place to change. Needles
  // spelled in two parts, so this file is no hit of its own scan.
  test("Similarity writes the IVF probe (collect_list of distEntry) once") {
    val found = hits(operator("Similarity.scala"), "collect_list(" + "distEntry(")
    assert(found.size == 1, found)
  }

  test("Similarity writes the rounded cosine score once") {
    val cosine = ("""round\(""" + """dot\(.*\) / \(.*, 6\)""").r
    val found = hitsWhere(operator("Similarity.scala"))(cosine.findFirstIn(_).nonEmpty)
    assert(found.size == 1, found)
  }

  test("Dedup writes the banded-MinHash candidate self-join once") {
    val found = hits(operator("Dedup.scala"), "bandRows" + ".as(\"a\")")
    assert(found.size == 1, found)
  }

  // The DuckDB oracles: a fragment more than one query uses is written
  // once, in the pack that owns the concept, and every query calls it.
  // Needles spelled in two parts, so this file is no hit of its own scan.
  test("the query packs write the MinHash signature CTE once") {
    val found = hits(queryPacks, "list_min(list_transform(s, x -> " + "md5(")
    assert(found.map(_._1) == Seq("DedupQueries.scala"), found)
  }

  test("the query packs write the list dot product under every cosine once") {
    val dot = ("""list_transform\(range\(1, len\(\S+\) \+ 1\), """ +
      """\S+ -> \S+\[\S+\] \* \S+\[\S+\]\)\)""").r
    val found = hitsWhere(queryPacks)(dot.findFirstIn(_).nonEmpty)
    assert(found.map(_._1) == Seq("SimilarityQueries.scala"), found)
  }

  test("the query packs write the embeddings CTE once") {
    val found = hits(queryPacks, "embedding::DOUBLE[] AS v " + "FROM embeddings")
    assert(found.map(_._1) == Seq("SimilarityQueries.scala"), found)
  }

  test("the query packs write the detector replay's deposit CTE once") {
    val found = hits(queryPacks, "epoch_us(ts) // 1000000 " + "AS tsec")
    assert(found.map(_._1) == Seq("CoreQueries.scala"), found)
  }

  test("the query packs write the co-purchase graph's lp and ed CTEs once") {
    val found = Seq("l_partkey AS p " + "FROM lineitem", "JOIN lp b ON a.o = b.o " + "AND a.p <> b.p")
      .flatMap(hits(queryPacks, _))
    assert(found.map(_._1) == Seq("GraphQueries.scala", "GraphQueries.scala"), found)
  }

  // The sketch layer: one aggregate drives every family, and the key check
  // is written once. Needles spelled in two parts, so this file is no hit
  // of its own scan.
  test("src/main sets an aggregate buffer offset once, in SketchAgg") {
    val found = hits(main, "withNewMutable" + "AggBufferOffset")
    assert(found.map(_._1) == Seq("Sketch.scala"), found)
  }

  test("src/main extends TypedImperativeAggregate once, in SketchAgg") {
    val found = hits(main, "extends Typed" + "ImperativeAggregate")
    assert(found.map(_._1) == Seq("Sketch.scala"), found)
  }

  test("the sketch layer writes the integral-or-string key check once") {
    val found = hits(scalaFiles("src/main/scala/graft/functions"),
      "LongType | IntegerType | " + "ShortType | ByteType")
    assert(found.size == 1, found)
  }

  // The serving edge ACKs at durability: DepositService waits for a
  // micro-batch only where the boot replay does, so no change can put the
  // micro-batch back on the ACK path. Needle spelled in two parts, so this
  // file is no hit of its own scan.
  test("DepositService waits for a micro-batch only in the boot replay") {
    val svc = main.filter(_.getFileName.toString == "DepositService.scala")
    assert(svc.size == 1, svc)
    val found = hits(svc, "processAll" + "Available")
    val lines = Files.readAllLines(svc.head).asScala
    assert(found.size == 1, found)
    val replay = lines.slice(found.head._2 - 6, found.head._2 - 1)
    assert(replay.exists(_.contains("input.addData(replayed)")), (found, replay))
  }

  test("no spec makes a temp directory of its own; they come from TestDirs") {
    // Needle spelled in two parts, so this file is no hit of its own scan.
    val found = hits(scalaFiles("src/test/scala"), "createTemp" + "Directory")
    assert(found.isEmpty, found)
  }

  test("no spec calls GraftFunctions.register except the fallback's own spec") {
    val found = hits(scalaFiles("src/test/scala"), "GraftFunctions.register(")
      .filterNot { case (f, _) => f == "GraftFunctionsSpec.scala" || f == "SessionSetupGuardSpec.scala" }
    assert(found.isEmpty, found)
  }
}

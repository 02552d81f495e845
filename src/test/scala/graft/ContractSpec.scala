package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract invariants for SparkEntry: the maps the correctness gate
  * consumes must stay structurally sound — `Map ++` merging would silently
  * DROP a query if two modules reused a name, and an oracle keyed to a
  * misspelled query name would silently never run. */
class ContractSpec extends AnyFunSuite {

  private val modules: Seq[(String, Map[String, _], Map[String, String])] = Seq(
    ("Relational", operators.Relational.queries, operators.Relational.oracle),
    ("Rag", operators.Rag.queries, operators.Rag.oracle),
    ("TextAnalysis", operators.TextAnalysis.queries, operators.TextAnalysis.oracle),
    ("Dedup", operators.Dedup.queries, operators.Dedup.oracle),
    ("Similarity", operators.Similarity.queries, operators.Similarity.oracle),
    ("EventsOps", operators.EventsOps.queries, operators.EventsOps.oracle),
    ("Multimodal", operators.Multimodal.queries, operators.Multimodal.oracle),
    ("Pipelines", operators.Pipelines.queries, operators.Pipelines.oracle),
    ("Ingest", operators.Ingest.queries, operators.Ingest.oracle),
    ("Lakehouse", operators.Lakehouse.queries, operators.Lakehouse.oracle))

  test("no query name collides across modules (Map ++ would drop one silently)") {
    val all = modules.flatMap { case (m, q, _) => q.keys.map(_ -> m) }
    val dupes = all.groupBy(_._1).filter(_._2.size > 1)
    assert(dupes.isEmpty, s"duplicate query names: $dupes")
    assert(SparkEntry.queries.size == all.size)
  }

  test("every oracle key names an existing query; every query has an oracle") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(o.subsetOf(q), s"oracles keyed to no query: ${o.diff(q)}")
    assert((q -- o).isEmpty, s"queries missing an oracle: ${q -- o}")
  }

  test("README's query count equals SparkEntry.queries.size (no doc drift)") {
    val readme = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("README.md")), "UTF-8")
    val m = """(\d+) named queries""".r.findFirstMatchIn(readme)
    assert(m.isDefined, "README.md lost its 'N named queries' line")
    assert(m.get.group(1).toInt == SparkEntry.queries.size,
      s"README says '${m.get.group(1)} named queries' but SparkEntry has " +
        s"${SparkEntry.queries.size} — update README.md")
  }

  /** A map type keyed by SparkSession (alone or leading a tuple) whose
    * value type names DataFrame: the shape of a per-session plan memo. */
  private val sessionFrameMap =
    """(?s)\w*Map(?:\.empty)?\[\s*\(?\s*(?:org\.apache\.spark\.sql\.)?SparkSession\s*[,)][^\]]*?\bDataFrame\b""".r

  test("the sessionFrameMap guard recognizes hand-rolled per-session memos") {
    Seq(
      """new java.util.WeakHashMap[SparkSession,
        |  java.util.concurrent.ConcurrentHashMap[String, DataFrame]]()""".stripMargin,
      "new ConcurrentHashMap[SparkSession, scala.collection.mutable.Map[String, DataFrame]]()",
      "TrieMap.empty[(SparkSession, String), DataFrame]"
    ).foreach(src => assert(sessionFrameMap.findFirstIn(src).isDefined, src))
    Seq("new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()",
      "Map[String, (SparkSession, String) => DataFrame]"
    ).foreach(src => assert(sessionFrameMap.findFirstIn(src).isEmpty, src))
  }

  test("src/main holds DataFrames per session only in SessionMemo (no hand-rolled copy)") {
    val files = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    assert(files.exists(_.getFileName.toString == "SessionMemo.scala"))
    val copies = files.filterNot(_.getFileName.toString == "SessionMemo.scala")
      .flatMap { f =>
        sessionFrameMap.findFirstIn(java.nio.file.Files.readString(f))
          .map(m => s"$f: ${m.replaceAll("\\s+", " ")}")
      }
    assert(copies.isEmpty, "per-session DataFrame maps outside " +
      s"graft.sources.SessionMemo — route them through it: $copies")
  }

  test("query names follow the qNN_name convention with unique numbers") {
    val pat = """q(\d+)_[a-z0-9_]+""".r
    val nums = SparkEntry.queries.keys.toSeq.map {
      case pat(n) => n.toInt
      case other  => fail(s"bad query name: $other")
    }
    assert(nums.distinct.size == nums.size,
      s"duplicate query numbers: ${nums.groupBy(identity).filter(_._2.size > 1).keys}")
  }
}

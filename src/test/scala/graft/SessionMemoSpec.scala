package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{IcebergMeta, LakehouseTable => LT, RelationCache, SessionMemo, TableStatistics, Tables}

/** The per-session plan memo: session lifetime, RelationCache's dir-switch
  * rule, and keys that see through same-name rewrites of pointer files. */
class SessionMemoSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def freshRoot(tag: String): String =
    Files.createTempDirectory(s"graft-memo-$tag").resolve("t").toString

  /** Rewrite `p` in place with `edit` of its text — same byte length,
    * different content — then put the old mtime back, so neither size
    * nor mtime tells the rewrite apart. */
  private def rewriteSameSize(p: Path)(edit: String => String): Unit = {
    val mt = Files.getLastModifiedTime(p)
    val before = Files.readString(p)
    val after = edit(before)
    assert(after != before && after.length == before.length,
      s"the edit must keep the length and change the content: $after")
    Files.writeString(p, after)
    Files.setLastModifiedTime(p, mt)
    assert(Files.size(p) == before.length && Files.getLastModifiedTime(p) == mt)
  }

  test("a stopped session's memo entries are retired on the next call") {
    val dir = Files.createTempDirectory("graft-memo-tables").toString
    Seq(1, 2).toDF("r").write.parquet(s"$dir/region.parquet")
    // a second session on the shared context stands in for a stopped one
    val other = spark.newSession()
    val a = Tables.load(other, dir, "region")
    assert(Tables.load(other, dir, "region") eq a, "memo hit expected")
    val mine = Tables.load(spark, dir, "region")
    val live = SessionMemo.live
    SessionMemo.live = s => (s ne other) && live(s)
    try assert(Tables.load(spark, dir, "region") eq mine,
      "a live session's entries must survive another session's retirement")
    finally SessionMemo.live = live
    assert(!(Tables.load(other, dir, "region") eq a),
      "the retired session's entry must be gone, so the next load rebuilds")
  }

  test("RelationCache dir switch unpersists the kind's old relation only") {
    val k = "memospec.kind"
    val keep = RelationCache.of(spark, "memospec.other", "dirA")(Seq(9).toDF("x"))
    val a = RelationCache.of(spark, k, "dirA")(Seq(1).toDF("x"))
    a.count(); keep.count()
    assert(a.storageLevel.useMemory && keep.storageLevel.useMemory)
    val b = RelationCache.of(spark, k, "dirB")(Seq(2).toDF("x"))
    assert(!a.storageLevel.useMemory, "old dir's relation must be unpersisted")
    assert(b.storageLevel.useMemory, "new dir's relation must be cached")
    assert(keep.storageLevel.useMemory, "another kind must be left alone")
    assert(RelationCache.of(spark, "memospec.other", "dirA")(fail("rebuilt")) eq keep)
    Seq(b, keep).foreach(_.unpersist(false))
  }

  test("same-size rewrite of _graft_stats.json with its old mtime rebuilds the native read") {
    val root = freshRoot("stats")
    LT.create((1L to 1000L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1), root)
    TableStatistics.analyze(spark, root)
    val cbo = Seq("spark.sql.cbo.enabled" -> "true",
      "spark.sql.cbo.planStats.enabled" -> "true")
    val saved = cbo.map { case (k, _) => k -> spark.conf.get(k) }
    cbo.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val first = LT.read(spark, root)
      assert(first.queryExecution.optimizedPlan.stats.rowCount.contains(BigInt(1000)))
      assert(LT.read(spark, root) eq first, "memo hit expected")
      rewriteSameSize(Paths.get(root, "_graft_stats.json"))(
        _.replace("\"rowCount\":1000", "\"rowCount\":1001"))
      assert(TableStatistics.statsOf(root).map(_.rowCount).contains(1001L))
      val next = LT.read(spark, root)
      assert(!(next eq first), "the memoized plan was served after a rewrite")
      assert(next.queryExecution.optimizedPlan.stats.rowCount.contains(BigInt(1001)))
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("same-size rewrite of _last_checkpoint with its old mtime rebuilds the Delta export read") {
    val root = freshRoot("ckpt")
    LT.create(Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1), root)
    LT.append(Seq((3L, "c")).toDF("id", "v").coalesce(1), root)
    LT.append(Seq((4L, "d")).toDF("id", "v").coalesce(1), root)
    LT.exportDeltaLog(spark, root)
    LT.exportDeltaCheckpoint(spark, root, 1L)
    val ptr = Paths.get(root, "_delta_log", "_last_checkpoint")
    val atV1 = Files.readString(ptr)
    LT.exportDeltaCheckpoint(spark, root, 2L)
    val first = LT.readDeltaExport(spark, root)
    assert(LT.readDeltaExport(spark, root) eq first, "memo hit expected")
    // point back at the (still valid) v1 checkpoint, padded to the v2
    // pointer's length with JSON whitespace
    rewriteSameSize(ptr) { cur =>
      assert(atV1.length <= cur.length)
      atV1.stripSuffix("}") + " " * (cur.length - atV1.length) + "}"
    }
    val next = LT.readDeltaExport(spark, root)
    assert(!(next eq first), "the memoized plan was served after a rewrite")
    assert(next.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 4L))
  }

  test("same-size rewrite of the current Iceberg metadata file with its old mtime rebuilds the read") {
    val root = freshRoot("iceberg")
    LT.create(Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1), root)
    IcebergMeta.exportIcebergMeta(spark, root)
    val meta = Paths.get(root, "metadata")
    val n = Files.readString(meta.resolve("version-hint.text")).trim
    val first = IcebergMeta.readIceberg(spark, root)
    assert(IcebergMeta.readIceberg(spark, root) eq first, "memo hit expected")
    // snapshot expiry's kind of rewrite: same file name, new content
    rewriteSameSize(meta.resolve(s"v$n.metadata.json")) { s =>
      val m = """"last-updated-ms"\s*:\s*(\d+)""".r.findFirstMatchIn(s).get
      val d = m.end(1) - 1
      s.substring(0, d) + ((s.charAt(d) - '0' + 1) % 10) + s.substring(d + 1)
    }
    val next = IcebergMeta.readIceberg(spark, root)
    assert(!(next eq first), "the memoized plan was served after a rewrite")
    assert(next.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
  }
}

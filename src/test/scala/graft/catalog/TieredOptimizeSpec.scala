package graft.catalog

import graft.TestSpark
import graft.aql.Engine
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Auto-OPTIMIZE merges only the small-file tier ([[Catalog.smallTier]]):
  * a point COMMIT's maintenance rewrites the few small files it produced,
  * never the large settled files or their index parts, while the live
  * file count stays logarithmic. Explicit OPTIMIZE (every file) is pinned
  * by CowCommitSpec, ZOrderSpec and EngineSpec.
  */
class TieredOptimizeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def engine(tag: String, optimizeEvery: Int): Engine = {
    val dir = Files.createTempDirectory(s"graft-tier-$tag")
    Files.writeString(dir.resolve(Settings.FileName),
      Settings.default.copy(optimizeAfterCommits = optimizeEvery).toYaml)
    new Engine(spark, dir.toString)
  }

  /** Every regular file under a version directory (data, checksums,
    * index parts), keyed by its path relative to the directory. */
  private def tree(cat: Catalog, c: String, v: Int): Map[String, Path] = {
    val root = cat.versionPath(c, v)
    scala.util.Using.resource(Files.walk(root)) { s =>
      s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => root.relativize(p).toString -> p).toMap
    }
  }

  /** Bytes version `v` wrote: files that are not a hard link of the same
    * path in version `v - 1`. */
  private def bytesWritten(cat: Catalog, c: String, v: Int): Long = {
    val prev = tree(cat, c, v - 1)
    tree(cat, c, v).collect {
      case (rel, p) if !prev.get(rel).exists(Files.isSameFile(_, p)) => Files.size(p)
    }.sum
  }

  test("smallTier: the longest size-sorted prefix where each file is at most twice the smaller ones") {
    // near-equal small files merge; the large file outweighs them all
    assert(Catalog.smallTier(Seq("big" -> 5000000L, "a" -> 702L, "b" -> 700L, "c" -> 705L))
      == Seq("b", "a", "c"))
    // the first file always joins; a lone small file is a set of one
    assert(Catalog.smallTier(Seq("big" -> 5000000L, "a" -> 700L)) == Seq("a"))
    assert(Catalog.smallTier(Seq("a" -> 700L)) == Seq("a"))
    assert(Catalog.smallTier(Seq.empty[(String, Long)]).isEmpty)
    // the rule stops at the first file larger than twice everything below
    assert(Catalog.smallTier(Seq("a" -> 1L, "b" -> 2L, "c" -> 6L, "d" -> 19L, "e" -> 10L))
      == Seq("a", "b", "c", "e", "d"))
    assert(Catalog.smallTier(Seq("a" -> 1L, "b" -> 2L, "c" -> 7L)) == Seq("a", "b"))
  }

  test("the touched-file probe dedupes without a shuffle and finds exactly the touched files") {
    val dir = Files.createTempDirectory("graft-tier-probe")
    val cat = new Catalog(spark, dir.toString)
    cat.create("c", List("id" -> graft.aql.AlbaType.of("INT"),
      "v" -> graft.aql.AlbaType.of("SMALL-STRING")))
    import spark.implicits._
    cat.overwrite("c", (0 until 40).map(i => (i, s"v$i")).toDF("id", "v")
      .repartitionByRange(4, col("id")).sortWithinPartitions("id"))
    val tagged = cat.readVersionTagged("c", 1).filter(col("id") % 10 === 3)
    val probe = Tx.fileNames(tagged)
    val exchanges = probe.queryExecution.executedPlan.collect {
      case e: ShuffleExchangeLike => e
    }
    assert(exchanges.isEmpty, probe.queryExecution.executedPlan.toString)
    val expected = tagged.select("__src_file").distinct().as[String].collect().toSet
    assert(expected.size == 4)
    assert(Tx.touchedFiles(tagged) == expected)
  }

  test("30 point commits with auto-OPTIMIZE never rewrite the large file or its index parts") {
    val eng = engine("big", optimizeEvery = 3)
    val cat = eng.catalog
    eng.execute("CREATE CONTAINER big ['id','k','v'] [BIGINT, BIGINT, SMALL-STRING]")
    import spark.implicits._
    val n = 50000L
    val baseRows = (0L until n).map(i => (i, i % 997, s"row$i"))
    cat.overwrite("big", baseRows.toDF("id", "k", "v").coalesce(1)) // v1
    eng.execute("CREATE INDEX kx ON big ['k'] USING value")
    assert(cat.currentVersion("big") == 1)
    val Seq(large) = cat.versionFiles("big", 1)
    val largeName = large.getFileName.toString
    val largeBytes = Files.size(large)
    val largeIndex = tree(cat, "big", 1).filter(_._1.contains(s"src=$largeName"))
    assert(largeIndex.nonEmpty, "the value index must cover the large file")

    // created rows: key -> (k, v); keys above the loaded range
    val model = scala.collection.mutable.Map.empty[Long, (Long, String)]
    (0 until 30).foreach { i =>
      val key = n + i
      i % 3 match {
        case 0 =>
          eng.execute(s"CREATE ROW ['id','k','v'] [$key,${1000 + i},'c$i'] ON big")
          model(key) = (1000L + i, s"c$i")
        case 1 =>
          eng.execute(s"EDIT ROW ['v'] ['e$i'] ON big WHERE id = ${key - 1}")
          model(key - 1) = model(key - 1).copy(_2 = s"e$i")
        case _ if i >= 5 =>
          eng.execute(s"DELETE ROW ON big WHERE id = ${key - 5}")
          model -= key - 5
        case _ =>
          eng.execute(s"CREATE ROW ['id','k','v'] [$key,${1000 + i},'c$i'] ON big")
          model(key) = (1000L + i, s"c$i")
      }
      val before = cat.currentVersion("big")
      eng.execute("COMMIT big")
      val after = cat.currentVersion("big")
      (before + 1 to after).foreach { v =>
        val written = bytesWritten(cat, "big", v)
        assert(written < largeBytes / 20,
          s"commit $i: v$v wrote $written bytes, the large file is $largeBytes")
      }
      val cur = tree(cat, "big", after)
      assert(Files.isSameFile(cur(largeName), large),
        s"commit $i: the large file must stay a hard link")
      largeIndex.foreach { case (rel, p) =>
        assert(cur.get(rel).exists(Files.isSameFile(_, p)),
          s"commit $i: index part $rel must stay a hard link")
      }
    }
    assert(cat.currentVersion("big") > 31, "auto-OPTIMIZE must have published")
    val got = cat.read("big").as[(Long, Long, String)].collect()
    assert(got.length == n + model.size)
    assert(got.toSet == baseRows.toSet ++ model.map { case (key, (k, v)) => (key, k, v) })
    // the value index answers for the created rows
    val idef = cat.indexDefs("big").head
    model.foreach { case (key, (k, _)) =>
      assert(Index.valueLookup(cat, "big", idef, Seq(k)).collect().map(_.getLong(0)).toSet
        == Set(key))
    }
  }

  test("a single small file is no merge: nothing published, and REFRESH still folds the commit") {
    val eng = engine("nomerge", optimizeEvery = 2)
    val cat = eng.catalog
    eng.execute("CREATE CONTAINER src ['id','grp','amt'] [BIGINT, SMALL-STRING, BIGINT]")
    import spark.implicits._
    cat.overwrite("src", (0L until 5000L).map(i => (i, s"g${i % 3}", 1L))
      .toDF("id", "grp", "amt").coalesce(1)) // v1
    eng.execute("CREATE VIEW sv (SEARCH [grp, sum(amt)] ON src)")
    def ckpt(): Int = Files.readString(Views.ckptFile(cat, "sv")).trim.toInt
    assert(ckpt() == 1)
    eng.execute("CREATE ROW ['id','grp','amt'] [9000,'new',7] ON src")
    eng.execute("COMMIT src") // v2: due for auto-OPTIMIZE, small tier is one file
    assert(cat.currentVersion("src") == 2, "a one-file merge set must publish nothing")
    assert(ckpt() == 1, "the view must not fast-forward over the commit's window")
    eng.execute("REFRESH VIEW sv")
    val mv = eng.execute("SEARCH [] ON sv").asInstanceOf[Engine.ResultSet].df
      .collect().map(r => r.getString(0) -> r.getLong(r.length - 1)).toMap
    assert(mv == Map("g0" -> 1667L, "g1" -> 1667L, "g2" -> 1666L, "new" -> 7L))
  }

  test("200 single-row commits leave at most ceil(log2 200) + 2 live files") {
    val dir = Files.createTempDirectory("graft-tier-log")
    val cat = new Catalog(spark, dir.toString)
    cat.create("g", List("id" -> graft.aql.AlbaType.of("BIGINT"),
      "v" -> graft.aql.AlbaType.of("SMALL-STRING")))
    val tx = new Tx(cat)
    tx.optimizeEvery = 3
    val bound = math.ceil(math.log(200) / math.log(2)).toInt + 2
    var most = 0
    (1 to 200).foreach { i =>
      tx.stageInsert("g", Seq(Row(i.toLong, s"v$i")))
      tx.commit(Some("g"))
      most = most.max(cat.versionFileCount("g", cat.currentVersion("g")))
    }
    assert(most <= bound, s"live files peaked at $most, bound $bound")
    assert(cat.read("g").count() == 200)
  }
}

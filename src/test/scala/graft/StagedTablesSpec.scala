package graft

import java.net.URI
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.commons.io.FileUtils
import org.apache.hadoop.fs.{FileStatus, FilterFileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.StagedTables

/** Local disk addressed as `graftfs:` — a non-`file:` Hadoop filesystem
  * for the staging specs (registered through `fs.graftfs.impl`). Statuses
  * are plain `FileStatus`es: the raw local status type re-opens its path
  * as a `java.io.File`, which only accepts the `file:` scheme. */
class GraftTestFs extends FilterFileSystem(new RawLocalFileSystem {
  override def getUri: URI = URI.create("graftfs:///")
  override def getFileStatus(f: Path): FileStatus = {
    val file = pathToFile(f)
    if (!file.exists()) throw new java.io.FileNotFoundException(f.toString)
    new FileStatus(file.length, file.isDirectory, 1, getDefaultBlockSize(f),
      file.lastModified, makeQualified(f))
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    val file = pathToFile(f)
    if (!file.isDirectory) Array(getFileStatus(f))
    else file.list().sorted.map(n => getFileStatus(new Path(f, n)))
  }
})

/** The stage-once registry: prebuild must force a fresh build of every
  * registered staged table and report a real (measured) cost per tag, so
  * the bench artifact can disclose the amortization its timed consumers
  * enjoy; content keys must keep a stale build from ever being served. */
class StagedTablesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** A scratch copy of the test input, removed after `body`. */
  private def withInputCopy[T](body: String => T): T = {
    val d = Files.createTempDirectory("graft_staged_spec_in")
    FileUtils.copyDirectory(new java.io.File(TestSpark.sfDir), d.toFile)
    try body(d.toString) finally FileUtils.deleteQuietly(d.toFile)
  }

  private def stagedDir(df: org.apache.spark.sql.DataFrame): String =
    new Path(df.inputFiles.head).getParent.toUri.getPath

  test("prebuild forces a fresh build of every registered staged table and logs its cost") {
    val builds = StagedTables.prebuild(spark, TestSpark.sfDir)
    // every registered tag built (fresh — prebuild rebuilds), and the
    // registry is the bench's disclosure tag set
    assert(builds.keySet == StagedTables.tags.toSet,
      s"built ${builds.keySet}, registered ${StagedTables.tags}")
    assert(StagedTables.tags.toSet == Set("docs_spread", "incidence", "orderlines",
      "ordermax", "coedges", "codeg", "pipeline_details", "pipeline_premitted_biz_details",
      "overlap_n3", "knn_cm", "corpus_scored", "corpus_kept", "llm_docsets", "llm_nd",
      "doc_tok_cnt", "raw_docsets3", "nd_pairs", "nd_comp", "rrf_idf", "rrf_postings"))
    assert(builds.values.forall(_ > 0.0), "build costs must be measured, not zero")
    // staged content round-trips (spot-check the shared fact)
    val ol = StagedTables.orderLines(spark, TestSpark.sfDir)
    assert(ol.count() > 0)
    assert(ol.columns.toSet == Set("l_orderkey", "l_partkey", "l_shipdate",
      "o_custkey", "o_orderdate", "o_orderpriority"))
    // a second access does NOT rebuild: the log keeps the prebuild cost
    val before = StagedTables.buildLog.get("orderlines")
    StagedTables.orderLines(spark, TestSpark.sfDir).count()
    assert(StagedTables.buildLog.get("orderlines") == before,
      "consumers after prebuild must reuse the staged parquet")
    // every recorded consumer names a registered query or a staged tag
    // (tag-consuming-tag edges model the staged build chains), and the
    // chains prebuild ran were recorded
    val registered = SparkEntry.queries.keySet ++ StagedTables.consumers.keySet
    val unknown = StagedTables.consumers.values.flatten.toSet.diff(registered)
    assert(unknown.isEmpty, s"consumer lists name unregistered queries: $unknown")
    assert(StagedTables.consumers("incidence").contains("coedges"))
    assert(StagedTables.consumers("coedges").contains("codeg"))
  }

  test("a staged directory holding a different output schema is never served") {
    val d = TestSpark.sfDir
    val good = StagedTables.docTokCnt(spark, d)
    val rows = good.count()
    val dir = stagedDir(good)
    // plant the pre-`lang` build at the directory the old path-hash key
    // used, and at the current key's directory, committed
    val legacy = s"${System.getProperty("java.io.tmpdir")}/graft_doc_tok_cnt_" +
      Integer.toHexString(d.hashCode)
    FileUtils.deleteQuietly(new java.io.File(legacy))
    good.drop("lang").write.parquet(legacy)
    FileUtils.deleteDirectory(new java.io.File(dir))
    FileUtils.copyDirectory(new java.io.File(legacy), new java.io.File(dir))
    Files.createFile(Paths.get(dir, "_STAGED"))
    val again = StagedTables.docTokCnt(spark, d)
    assert(again.columns.toSeq == Seq("doc_id", "lang", "tok", "k"))
    assert(again.count() == rows)
    // m_naive_bayes reads `lang` off this grain
    assert(SparkEntry.queries("m_naive_bayes")(spark, d).count() > 0)
    FileUtils.deleteQuietly(new java.io.File(legacy))
  }

  test("rewriting the input in place rebuilds the staged tables that depend on it") {
    withInputCopy { d =>
      val edges = StagedTables.coEdges(spark, d).count()
      val firstDir = stagedDir(StagedTables.coEdges(spark, d))
      // rewrite lineitem.parquet in place with the even orders only
      val li = s"$d/lineitem.parquet"
      val tmp = Files.createTempDirectory("graft_staged_spec_li").resolve("t").toString
      spark.read.parquet(li).filter(col("l_orderkey") % 2 === 0)
        .coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, Paths.get(li), StandardCopyOption.REPLACE_EXISTING)
      FileUtils.deleteQuietly(new java.io.File(tmp))
      val after = StagedTables.coEdges(spark, d)
      assert(stagedDir(after) != firstDir)
      val n = after.count()
      assert(n > 0 && n < edges, s"$n edges after halving the orders, $edges before")
      // the dependent degree table follows: Σ degree = 2·|E|
      val degSum = StagedTables.coDeg(spark, d).agg(sum("dg")).head().getLong(0)
      assert(degSum == 2 * n)
    }
  }

  test("staging works on an input addressed by a non-file: scheme") {
    spark.sparkContext.hadoopConfiguration.set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    val d = "graftfs:" + TestSpark.sfDir
    val viaFs = StagedTables.coEdges(spark, d)
    val local = StagedTables.coEdges(spark, TestSpark.sfDir)
    assert(stagedDir(viaFs) != stagedDir(local), "the key covers the qualified input path")
    assert(viaFs.exceptAll(local).isEmpty && local.exceptAll(viaFs).isEmpty)
    // a second read is a hit
    val before = StagedTables.buildLog.get("coedges")
    StagedTables.coEdges(spark, d).count()
    assert(StagedTables.buildLog.get("coedges") == before)
  }

  test("a query run under Watchdog.runCapped is recorded as a consumer of what it reads") {
    val res = Watchdog.runCapped(spark, "g_triangle_count", Watchdog.queryCapSec) {
      SparkEntry.queries("g_triangle_count")(spark, TestSpark.sfDir).count()
    }
    assert(res.isRight, res)
    assert(StagedTables.consumers("coedges").contains("g_triangle_count"))
    assert(StagedTables.consumers("codeg").contains("g_triangle_count"))
  }
}

package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Sync
import graft.sources.{GitCode, SyncState}

/** Job budget of the sync paths: reading or writing the sync flag runs
  * no Spark job, a table load none, and an incremental `syncRun` or
  * `codeRun`, or a full ingest, at most the number measured when the
  * budget was set. A path that gains a job (a schema-inference job, a
  * counter aggregate, a broadcast, a checkpoint) fails here. */
class SyncBudgetSpec extends SparkSuite {
  private val dir = "/root/testdata/sf0.001"
  private lazy val jobs = new JobCount(spark.sparkContext)

  /** Most jobs an incremental `syncRun(...).collect()` may run: the
    * url diff's shuffle stage (both sides in one aggregate) and its
    * status action, then the broadcast of the reusable stored rows and
    * the commit write, which also counts the embedded chunks. The flag
    * and the store's log are read and written on the driver. The
    * full-copy store ran 22 here, the first commit-log store 11. */
  private val SyncRunBudget = 4
  /** Most jobs a forced `syncRun(...).collect()` into an empty store
    * (the full ingest) may run: the diff's shuffle stage and status
    * action, and the write. The first commit-log store ran 8 here. */
  private val IngestBudget = 3
  /** Most jobs an incremental `codeRun(...).collect()` may run: the
    * processed-file list, whose allowed-set semi-join broadcasts, and
    * the stale-url list; then the commit write as in `syncRun`, which
    * broadcasts the allowed set again. The full-copy store ran 23 here,
    * the first commit-log store 10. */
  private val CodeRunBudget = 6

  /** The first 60 docs; the `second` corpus appends to every 10th doc,
    * drops doc 7 and adds doc 60. */
  private def corpus(second: Boolean): DataFrame = {
    val id = col("doc_id")
    Tables.documents(spark, dir)
      .filter(if (second) id <= 60 && id =!= 7 else id < 60)
      .select(concat(lit("doc://"), id).as("url"),
        when(lit(second) && id % 10 === 0, concat(col("text"), lit(" edit")))
          .otherwise(col("text")).as("text"))
  }

  test("forceFullSync reads the sync flag with no job") {
    val state = tempDir("budgetflag").resolve("state").toString
    var force = false
    assert(jobs.of { force = SyncState.forceFullSync(spark, state, "p") } == 0)
    assert(force)
    SyncState.markSyncComplete(spark, state, "p", 1L, hasNetworkErrors = false)
    assert(jobs.of { force = SyncState.forceFullSync(spark, state, "p") } == 0)
    assert(!force)
  }

  test("the sync flag is written with no job") {
    val state = tempDir("budgetflagw").resolve("state").toString
    assert(jobs.of { SyncState.markSyncComplete(spark, state, "p", 1L,
      hasNetworkErrors = false) } == 0)
    assert(!SyncState.forceFullSync(spark, state, "p"))
  }

  test("a full ingest stays within its job budget") {
    val base = tempDir("budgetingest")
    var r: org.apache.spark.sql.Row = null
    val n = jobs.of { r = Sync.syncRun(spark, corpus(second = false),
      base.resolve("store").toString, base.resolve("state").toString, 1L).head() }
    assert(r.getAs[Boolean]("force_full_sync") && r.getAs[Long]("items_new") > 0)
    assert(r.getAs[Long]("chunks_embedded") > 0)
    assert(n <= IngestBudget, s"full ingest ran $n jobs")
  }

  test("an incremental syncRun stays within its job budget") {
    val base = tempDir("budgetsync")
    val (store, state) = (base.resolve("store").toString,
      base.resolve("state").toString)
    Sync.syncRun(spark, corpus(second = false), store, state, 1L).collect()
    val incoming = corpus(second = true)
    var r: org.apache.spark.sql.Row = null
    val n = jobs.of { r = Sync.syncRun(spark, incoming, store, state, 2L).head() }
    assert(!r.getAs[Boolean]("force_full_sync"))
    assert(r.getAs[Long]("items_new") == 1 && r.getAs[Long]("items_deleted") == 1)
    assert(r.getAs[Long]("items_updated") > 0)
    assert(n <= SyncRunBudget, s"incremental syncRun ran $n jobs")
  }

  test("an incremental codeRun stays within its job budget") {
    val base = tempDir("budgetcode")
    val (store, state) = (base.resolve("store").toString,
      base.resolve("state").toString)
    def tree(second: Boolean): DataFrame = corpus(second)
      .select(regexp_replace(col("url"), "doc://", "src/f").as("path"),
        col("text"))
    def run(second: Boolean, id: Long, sha: String,
        diff: Option[String]): DataFrame =
      GitCode.codeRun(spark, tree(second), store, state, id, sha, diff,
        "/repo", "https://github.com/acme/docs/blob/main")
    run(second = false, 1L, "sha1", None).collect()
    val diff = (Seq("D\tsrc/f7", "A\tsrc/f60") ++
      (0 until 60 by 10).map(i => s"M\tsrc/f$i")).mkString("\n")
    var r: org.apache.spark.sql.Row = null
    val n = jobs.of { r = run(second = true, 2L, "sha2", Some(diff)).head() }
    assert(r.getAs[String]("mode") == "incremental")
    assert(r.getAs[Long]("files_processed") == 7 && r.getAs[Long]("urls_deleted") == 1)
    assert(n <= CodeRunBudget, s"incremental codeRun ran $n jobs")
  }

  test("a table load takes the inferred schema from a footer, with no job") {
    val names = new java.io.File(dir).list().filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet")).sorted.toSeq
    assert(names.size == 10)
    names.foreach { t =>
      var df: DataFrame = null
      assert(jobs.of { df = Tables.load(spark, dir, t) } == 0, t)
      assert(df.schema == spark.read.parquet(s"$dir/$t.parquet").schema, t)
    }
  }
}

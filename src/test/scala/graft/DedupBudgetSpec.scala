package graft

import graft.operators.Dedup

/** Job budget of the dedup keeper path: `Dedup.keepBest(...).collect()`
  * at sf0.001 runs at most the number of jobs measured when the budget
  * was set. A step that gains a job (a second documents scan, a count
  * for routing, a checkpoint) fails here. */
class DedupBudgetSpec extends SparkSuite {
  private val dir = "/root/testdata/sf0.001"
  private lazy val jobs = new JobCount(spark.sparkContext)

  /** Most jobs a `keepBest(...).collect()` may run once the corpus size
    * of `dir` is cached (the first call counts the documents, 2 jobs
    * more). sf0.001 is under `SimhashAutoMaxDocs`, so the pairs come
    * from the 32-bit kernel:
    *  1. the signature checkpoint: one documents scan and the SimHash;
    *  2. the band-join pair checkpoint in `clustersOf`: the join's
    *     shuffle stage and the checkpoint, 2 jobs;
    *  3. the pair count that routes to the driver union-find: its
    *     shuffle stage and the result, 2 jobs;
    *  4. the pair collect for the union-find;
    *  5. the collect itself, 5 jobs: the labels' broadcast, the scan of
    *     `doc_id, n_chars` joined to the labels up to the per-cluster
    *     aggregate's shuffle, the sample of the `cluster_id` sort's range
    *     partitioner, the sort's shuffle, and the result. */
  private val KeepBestBudget = 11

  test("keepBest stays within its job budget") {
    val first = Dedup.keepBest(spark, dir).collect()
    var rows: Array[org.apache.spark.sql.Row] = null
    val n = jobs.of { rows = Dedup.keepBest(spark, dir).collect() }
    assert(rows.nonEmpty && rows.toSeq == first.toSeq)
    assert(n <= KeepBestBudget, s"keepBest ran $n jobs")
  }
}

package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("a percentile needs ten samples beyond it") {
    val xs = (1 to 50).map(_.toDouble)
    assert(Stats.percentile(xs, 80) == 40.0)
    val e = intercept[IllegalArgumentException](Stats.percentile(xs, 90))
    assert(e.getMessage.contains("5 beyond"))
    assert(Stats.percentile((1 to 200).map(_.toDouble), 95) == 190.0)
    intercept[IllegalArgumentException](Stats.percentile((1 to 199).map(_.toDouble), 95))
  }

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    intercept[IllegalArgumentException](Stats.median(Nil))
  }

  test("interval union counts overlaps once") {
    assert(Trace.union(Seq((0L, 10L), (5L, 15L), (20L, 30L))) == 25L)
    assert(Trace.union(Nil) == 0L)
  }

  test("layer attribution ranks syncRun checkpoints by call site") {
    def site(api: String, frame: String) =
      s"org.apache.spark.sql.classic.Dataset.$api(Dataset.scala:1)\n$frame\nperfbench.Workloads$$.x(Workloads.scala:5)"
    val ck = Seq(260, 270, 300).map(l => site("localCheckpoint", s"graft.operators.Sync$$.syncRun(Sync.scala:$l)"))
    val sites = ck.flatMap(Layers.site)
    assert(ck.map(d => Layers.name(Layers.site(d), "x", sites)) ==
      Seq("sync.chunk", "sync.diff", "sync.embed"))
    val write = site("parquet", "graft.sources.ChunkStore$.writeVersion(ChunkStore.scala:9)")
    assert(Layers.name(Layers.site(write), "x", sites) == "store.write")
    assert(Layers.name(Layers.site(site("collect", "")), "dedup.keep_best", sites) == "dedup.keep_best")
  }
}

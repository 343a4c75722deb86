package graft

import graft.operators.Sync

/** Pins the sync_run_e2e oracle row's state-machine semantics on the
  * smoke corpus: run 1 (error run) never writes the completion flag, so
  * run 2 is STILL forced; run 3 is the first incremental run, and its
  * incomplete scan retains urls missing from corpus C (guarded
  * cleanup). The DuckDB hash match is the full gate; this spec asserts
  * the packed payloads' state bits so a future refactor that silently
  * flips a flag fails here with a readable message. */
class SyncRunE2eSpec extends SparkSuite {

  test("three-run composition: force flags, versions, guarded retention") {
    val out = Sync.syncRunE2e(spark, "/root/testdata/sf0.001").collect()
    val counters = out.filter(_.getString(0) == "counters")
      .map(r => r.getString(1) -> r.getString(2)).toMap
    assert(counters.keySet == Set("run:1", "run:2", "run:3"))

    def field(run: String, k: String): String =
      counters(run).split('|').find(_.startsWith(k + "="))
        .map(_.drop(k.length + 1))
        .getOrElse(fail(s"$run payload missing $k: ${counters(run)}"))

    // run 1: first sync is forced; everything is new and embedded
    assert(field("run:1", "force") == "true")
    assert(field("run:1", "ver") == "0")
    assert(field("run:1", "upd") == "0" && field("run:1", "del") == "0")
    // run 2: run 1 died dirty, so the flag was never written → forced
    // again; unchanged urls embed nothing (emb < total B chunks)
    assert(field("run:2", "force") == "true")
    assert(field("run:2", "ver") == "1")
    assert(field("run:2", "proc").toLong >
      field("run:2", "new").toLong + field("run:2", "upd").toLong,
      "forced run must process unchanged urls too")
    // run 3: flag set by clean run 2 → incremental; only new+updated
    assert(field("run:3", "force") == "false")
    assert(field("run:3", "ver") == "2")
    assert(field("run:3", "proc").toLong ==
      field("run:3", "new").toLong + field("run:3", "upd").toLong)

    // guarded retention: run 3's scan was incomplete, so urls deleted
    // from corpus C must still be present in the final store
    val storeUrls = out.filter(_.getString(0) == "store")
      .map(_.getString(1).takeWhile(_ != '#')).toSet
    val deleted3 = field("run:3", "del").toLong
    assert(deleted3 > 0, "scenario must drop some urls in corpus C")
    // corpus B urls dropped from C: doc_id % 7 <> 3 && doc_id % 6 == 5
    val retained = storeUrls.count { u =>
      val id = u.stripPrefix("doc://").toLong
      id < 280 && id % 7 != 3 && id % 6 == 5
    }
    assert(retained == deleted3,
      s"incomplete scan must retain all $deleted3 dropped urls, " +
        s"found $retained")
  }
}

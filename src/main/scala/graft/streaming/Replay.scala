package graft.streaming

import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The staged-replay protocol of the `stream_*` parity rows (the two
  * WARC rows aside: they replay through their own V2 source). The
  * reference has no streaming; these rows exist only to prove that a
  * micro-batch run gives the batch result, so they share one protocol:
  * input files are staged once ([[StageCache]]), stamped so the file
  * source replays them in a fixed order, streamed one file per
  * trigger, and a run's work dir and uncached staging are deleted even
  * when the run throws. A run with no staged input takes its work dir
  * from `Scratch.within("replay")` directly. */
private[graft] object Replay {

  /** Stamps every file the file source reads under `dirs` (names not
    * starting with `_` or `.`) with ascending, all-in-the-past mtimes:
    * dirs in the order given, files in name order within a dir. The
    * source replays the oldest mtime first, so this fixes the replay
    * order, within a multi-part dir too. */
  def stamp(dirs: String*): Unit = {
    val t0 = System.currentTimeMillis() - 3600 * 1000L
    dirs.flatMap { d =>
      // listFiles() returns null (not empty) for a missing/unreadable
      // dir: fail with the path, not an anonymous NPE
      Option(new java.io.File(d).listFiles())
        .getOrElse(sys.error(s"staged replay dir missing or unreadable: $d"))
        .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
        .sortBy(_.getName)
    }.zipWithIndex.foreach { case (f, i) =>
      require(f.setLastModified(t0 + i * 60000L), s"cannot stamp $f")
    }
  }

  /** Streams the staged files in `dirs` under `base` one file per
    * trigger, with the schema of the staged files themselves. */
  def read(s: SparkSession, base: Path, dirs: Seq[String],
      format: String = "parquet"): DataFrame =
    s.readStream.format(format)
      .schema(s.read.format(format).load(dirs.map(d => s"$base/$d"): _*)
        .schema)
      .option("maxFilesPerTrigger", 1)
      .load(dirs.mkString(s"$base/{", ",", "}"))

  /** Runs `body` over the staging for `key` and a fresh work dir. The
    * staging is built by `build` at most once per cache root, or afresh
    * per run when no cache is set ([[StageCache.resolve]]). The work
    * dir and an uncached staging are [[graft.Scratch]] dirs deleted
    * when `body` returns or throws; a cached staging belongs to the
    * cache. What `body` returns must not read from either dir: pin
    * it. */
  def staged[T](key: String)(build: Path => Unit)(
      body: (Path, Path) => T): T =
    StageCache.resolve(key)(build)(in =>
      graft.Scratch.within("replay")(body(in, _)))
}

package graft

/** The one memory rule of the data the driver keeps between queries:
  * the rows IVF builds keep for their probes
  * ([[graft.plans.KnnIndexRegistry]]) and the rows store snapshots keep
  * for their page lookups ([[graft.sources.ChunkStore]]), summed, stay at
  * or below [[MaxBytes]]. Each holder is one key of one account; a holder
  * that drops its value releases its key, and a holder that no longer
  * lives (its index or store deleted, its session stopped) is dropped by
  * the next [[admit]] of any key.
  *
  * Each holder counts its value at about its decoded size on the heap.
  * Floats in parquet barely compress, so an IVF build counts its data
  * file bytes: 64 floats are 256 bytes in the file and a 272-byte array
  * plus about 40 bytes of id and tuple on the heap. Text and the sparse
  * hashed embeddings of a store compress well in parquet, so store rows
  * count their decoded row bytes instead. */
private[graft] object ResidentMemory {

  /** 1/16 of the driver's max heap. With the overheads above the held
    * values stay under about 1/12 of the heap, which leaves the driver's
    * other work its room. A holder over the rule, and any holder at
    * 100 TB, is answered from its files by Spark jobs. */
  val MaxBytes: Long = Runtime.getRuntime.maxMemory / 16

  /** A held value's bytes, whether its holder still lives, and how to
    * make the holder drop the value. */
  private final case class Held(bytes: Long, live: () => Boolean, drop: () => Unit)

  private val held = scala.collection.mutable.Map.empty[String, Held]

  /** Load and hold a value under `key`, releasing the key's earlier
    * value (its holder drops that value too) and every value whose
    * holder no longer `live`s, which `drop` makes the holder let go.
    * `load` gets the bytes left beside every other key and returns the
    * value with the bytes it counts, or None when it cannot fit; a value
    * over the room is not held. Loads run one at a time, so two holders
    * never both count on the same room. */
  def admit[T](key: String, live: () => Boolean, drop: () => Unit)(
      load: Long => Option[(T, Long)]): Option[T] =
    synchronized {
      held.remove(key)
      held.filter(!_._2.live()).foreach { case (k, h) => held.remove(k); h.drop() }
      val room = MaxBytes - held.valuesIterator.map(_.bytes).sum
      load(room).collect { case (value, bytes) if bytes <= room =>
        held(key) = Held(bytes, live, drop)
        value
      }
    }

  def release(key: String): Unit = synchronized { held.remove(key) }
}

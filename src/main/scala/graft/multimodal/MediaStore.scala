package graft.multimodal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.queries.SessionScoped

/** The stored-payload media table: a real `BINARY`-column parquet table
  * `(event_id, png, wav, avi)` that the `mm_*` operators decode, so the
  * whole chain a multimodal pipeline user runs — parquet blob I/O,
  * payload-column pruning (each operator reads ONLY its kind's column),
  * partitioned decode, and the corrupt-stored-blob quarantine — is
  * exercised against stored bytes, not a per-row synthesizer.
  *
  * Two provenances, same layout:
  *   - generator-written: `TenX` writes `media.parquet` into its output
  *     directory next to the other tables.
  *   - derived: for read-only source dirs (the driver's sf dirs), a
  *     session-scoped store is built ONCE per (session, dir) from
  *     [[Multimodal.MediaSynth]] under a temp dir and dropped with the
  *     session (or via [[evict]] between scale factors).
  *
  * Stored-corpus budget: payload rows are SAMPLED at `event_id %
  * step == 0` with step = ceil(n / [[MaxStoredRows]]) — a pure integer
  * rule the DuckDB oracle mirrors, like the corpus-scaled LSH band
  * width. At the driver's correctness SFs every event is stored
  * (step = 1 up to 50 k events); at bench factors the stored corpus —
  * and with it the generated dir's size — stays bounded (~250 MB of
  * incompressible payload bytes) instead of growing to the raw corpus's
  * multi-GB media volume. The CAP IS THE TESTDATA BUDGET, not the
  * plan: at 100 TB the same scan+decode runs over every stored blob,
  * it just has more splits.
  */
object MediaStore {

  /** Stored-corpus row budget (see scaladoc above). */
  val MaxStoredRows = 50000L

  /** Sampling stride for an n-event corpus — ids divisible by the
    * stride are stored. Integer-exact so the oracle derives the same
    * stride from `count(*)`. */
  def sampleStep(nEvents: Long): Long =
    (nEvents + MaxStoredRows - 1L) / MaxStoredRows

  /** Encode the MediaSynth payloads for the sampled ids of `events`
    * into a `(event_id, png, wav, avi)` parquet table at `path`. The
    * encode loop is map-only over all cores; payload bytes never pass
    * through a shuffle. */
  def write(events: DataFrame, path: String): Unit = {
    val s = events.sparkSession
    import s.implicits._
    val step = sampleStep(events.count())
    events.select(col("event_id").cast(LongType))
      .filter(pmod(col("event_id"), lit(step)) === 0)
      .repartition(s.sparkContext.defaultParallelism)
      .as[Long]
      .mapPartitions { it =>
        it.map { id =>
          (id, Multimodal.MediaSynth.pngPayload(id),
            Multimodal.MediaSynth.wavPayload(id),
            Multimodal.MediaSynth.aviPayload(id))
        }
      }
      .toDF("event_id", "png", "wav", "avi")
      .write.mode("overwrite").parquet(path)
  }

  /** Path of the media table for `dir`: the generator-written
    * `$dir/media.parquet` when present, else the derived session store
    * (built on first use; eviction deletes it so factor sweeps in one
    * session don't accumulate multi-hundred-MB payload copies).
    * Generator-written stores are data, not cache — never touched. */
  def ensure(s: SparkSession, dir: String, events: => DataFrame): String = {
    val generated = new java.io.File(s"$dir/media.parquet")
    if (generated.exists) generated.getPath
    else SessionScoped.store(s, dir, "media") { d =>
      val path = s"$d/media.parquet"
      write(events, path)
      path
    }
  }
}

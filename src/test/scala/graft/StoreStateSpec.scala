package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.util.StoreState

/** Unit pins for the generation/batch/lock primitives every persisted
  * store builds on ([[graft.util.StoreState]]) — the crash-state
  * resolution rules the integration specs exercise end-to-end. */
class StoreStateSpec extends AnyFunSuite with SparkSpec {

  /** Run `f` on a fresh temp dir, deleted when `f` returns. */
  private def withTmp(f: String => Unit): Unit = {
    val d = java.nio.file.Files.createTempDirectory("graft_storestate").toFile
    try f(d.toString)
    finally org.apache.commons.io.FileUtils.deleteDirectory(d)
  }

  private def mk(dir: String, name: String, marker: Option[String]): Unit = {
    val d = new java.io.File(dir, name)
    d.mkdirs()
    marker.foreach(m => new java.io.File(d, m).createNewFile())
  }

  test("dataDir resolves the HIGHEST committed generation; uncommitted " +
      "and malformed dirs never resolve; empty store resolves the root") {
    withTmp { dir =>
      assert(StoreState.dataDir(spark, dir) === dir, "empty → flat root")
      mk(dir, "gen-00000001", Some(StoreState.GenMarker))
      mk(dir, "gen-00000003", Some(StoreState.GenMarker))
      mk(dir, "gen-00000004", None) // staged, crashed before commit
      mk(dir, "gen-xyz", Some(StoreState.GenMarker)) // malformed name
      assert(new org.apache.hadoop.fs.Path(StoreState.dataDir(spark, dir))
        .getName === "gen-00000003")
      // next stage must skip PAST the crashed gen-4 (it may hold partials)
      assert(StoreState.nextGenPath(spark, dir).getName === "gen-00000005")
    }
  }

  test("commitGen is marker-then-GC: the new generation is resolvable " +
      "the instant the marker exists; older gens and legacy flat files " +
      "are reclaimed") {
    withTmp { dir =>
      mk(dir, "gen-00000001", Some(StoreState.GenMarker))
      new java.io.File(dir, "lists.parquet").mkdirs() // legacy flat file
      val gen2 = new org.apache.hadoop.fs.Path(dir, "gen-00000002")
      mk(dir, "gen-00000002", None)
      StoreState.commitGen(spark, dir, gen2, Seq("lists.parquet"))
      assert(new org.apache.hadoop.fs.Path(StoreState.dataDir(spark, dir))
        .getName === "gen-00000002")
      assert(!new java.io.File(dir, "gen-00000001").exists, "old gen GC'd")
      assert(!new java.io.File(dir, "lists.parquet").exists,
        "legacy flat file GC'd")
    }
  }

  test("batch listing takes only COMMITTED batch dirs (numeric or " +
      "stream-tagged); nextBatchPath skips crashed stages") {
    withTmp { dir =>
      mk(dir, "batch-00000001", Some(StoreState.BatchMarker))
      mk(dir, "batch-00000002", None) // crashed append
      mk(dir, "batch-s7", Some(StoreState.BatchMarker))
      mk(dir, "batch-junk!", Some(StoreState.BatchMarker)) // malformed
      val names = StoreState.committedBatches(spark, dir).map(_.getName)
      assert(names === Seq("batch-00000001", "batch-s7"))
      assert(StoreState.nextBatchPath(spark, dir).getName
        === "batch-00000003")
      assert(StoreState.uncommittedCruft(spark, dir).map(_.getName)
        === Seq("batch-00000002"))
    }
  }

  test("withLock: held lock fails loudly with holder + remedy; the " +
      "lock releases on completion AND on failure") {
    withTmp { dir =>
      var ran = 0
      StoreState.withLock(spark, dir, "op-a") { ran += 1 }
      assert(ran === 1 && !new java.io.File(dir, StoreState.LockName).exists)
      // a body failure must still release the lock
      intercept[RuntimeException] {
        StoreState.withLock(spark, dir, "op-b") { sys.error("boom") }
      }
      assert(!new java.io.File(dir, StoreState.LockName).exists,
        "the lock must release when the body throws")
      // a held lock refuses a second writer without running its body
      val w = new java.io.FileWriter(new java.io.File(dir,
        StoreState.LockName))
      w.write("""{"op": "op-c", "host": "other", "pid": 42}"""); w.close()
      val err = intercept[RuntimeException] {
        StoreState.withLock(spark, dir, "op-d") { ran += 1 }
      }
      assert(ran === 1, "the refused writer's body must never run")
      assert(err.getMessage.contains("locked by another writer") &&
        err.getMessage.contains("op-c") &&
        err.getMessage.contains(StoreState.LockName))
    }
  }
}

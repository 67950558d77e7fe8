package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftglue.GraftGlue

/** The registry's scratch lifecycle, in one place: where an entry's
  * scratch state lives, how a fixture-derived stage is built once and
  * kept fresh, how a streaming drive's checkpoint is created and torn
  * down, and how a session conf is scoped to one body. Registry
  * entries (EntryDefsA/B/C, EntryDrives, SparkEntry, ExplainProbe) go
  * through it and hold no copy of these decisions; [[withConf]] is the
  * only conf save/restore in main code (the source layer's events read
  * and dynamic overwrite use it too). ScratchSpec pins both. */
private[graft] object Scratch {

  /** `/tmp/graft_<name>_<hex(d.hashCode)>` — one stable path per
    * (entry, fixture dir), reused across runs and JVMs. */
  def path(name: String, d: String): String =
    s"/tmp/graft_${name}_${Integer.toHexString(d.hashCode)}"

  /** Delete `p` recursively; a missing path is a no-op. */
  def wipe(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root)) {
      val all = Files.walk(root)
      try all.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => { Files.deleteIfExists(f); () })
      finally all.close()
    }
  }

  /** Replace `dst` with a file-by-file copy of the tree at `src`. */
  def copyDir(src: String, dst: String): Unit = {
    wipe(dst)
    val s0 = Paths.get(src); val d0 = Paths.get(dst)
    val all = Files.walk(s0)
    try all.forEach { p =>
      val t = d0.resolve(s0.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
      ()
    } finally all.close()
  }

  /** The stage dir `path(name, d)`, rebuilt by `write(stageDir)` only
    * when its `_SUCCESS` marker is missing or older than the fixture
    * file `d/srcFile` — the stage is keyed on the fixture's path and
    * survives JVMs, so a fixture regenerated in place must not keep
    * serving old bytes. `write` starts from an empty path; the marker
    * is written here when `write` did not (a Spark parquet write does).
    * Returns the stage dir. */
  def staged(name: String, d: String, srcFile: String)(
      write: String => Unit): String = {
    val stage = Paths.get(path(name, d))
    val marker = stage.resolve("_SUCCESS")
    val stale = !Files.exists(marker) ||
      Files.getLastModifiedTime(marker)
        .compareTo(Files.getLastModifiedTime(Paths.get(d, srcFile))) < 0
    if (stale) {
      wipe(stage.toString)
      write(stage.toString)
      if (!Files.exists(marker)) {
        Files.createDirectories(stage)
        Files.write(marker, Array.emptyByteArray)
      }
    }
    stage.toString
  }

  /** Run `body` with a fresh temp checkpoint dir. A fresh-checkpoint
    * run's state is never reused, so on the way out — also when `body`
    * throws — the dir is deleted and every state-store provider is
    * unloaded from the executor: back-to-back drives otherwise
    * accumulate in-memory state maps, and the heap residue inflated the
    * LAST drive 3× in the full suite vs a quiet JVM. */
  def withCheckpoint[A](body: String => A): A = {
    val ckpt = Files.createTempDirectory("graft_ckpt").toString
    try body(ckpt)
    finally {
      GraftGlue.unloadStateStores()
      wipe(ckpt)
    }
  }

  /** Run `body` with each `key -> value` set on the session, then
    * restore every key to its previous value (unset when it had none),
    * also when `body` throws. */
  def withConf[A](s: SparkSession, kvs: (String, String)*)(body: => A): A = {
    val prev = kvs.map { case (k, _) => k -> s.conf.getOption(k) }
    kvs.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }
}

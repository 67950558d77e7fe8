package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.model.Rows.Event
import graft.streaming.EventStreams

/** [[Scratch]] owns the registry's scratch lifecycle: the registry
  * sources carry no copy of it, and each of its functions keeps its
  * contract. */
class ScratchSpec extends SparkSpec {
  import spark.implicits._

  private val mainSrc = Paths.get(sys.props("user.dir"), "src/main/scala")

  private def lines(rel: String): Seq[String] =
    Files.readAllLines(mainSrc.resolve(rel)).asScala.toSeq

  test("registry sources build no scratch path, delete, checkpoint, " +
      "staleness guard or conf save/restore of their own") {
    val registry = Seq("EntryDefsA", "EntryDefsB", "EntryDefsC",
      "EntryDrives", "SparkEntry", "ExplainProbe")
    val banned = Seq("/tmp/", "Files.walk", "createTempDirectory",
      "getLastModifiedTime", "conf.getOption(")
    val hits = for {
      name <- registry
      (line, i) <- lines(s"graft/$name.scala").zipWithIndex
      b <- banned if line.contains(b)
    } yield s"$name.scala:${i + 1}: $b"
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("session confs are saved and restored in Scratch only") {
    val all = Files.walk(mainSrc)
    val callers = try all.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => Files.readString(p).contains("conf.getOption("))
      .map(p => mainSrc.relativize(p).toString).toSet
    finally all.close()
    assert(callers == Set("graft/Scratch.scala"), callers)
  }

  test("state stores are unloaded from Scratch only") {
    val all = Files.walk(mainSrc)
    val callers = try all.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => Files.readString(p).contains("unloadStateStores()"))
      .map(_.getFileName.toString).toSet
    finally all.close()
    assert(callers == Set("Scratch.scala", "glue.scala"), callers)
  }

  test("path keeps the /tmp/graft_<name>_<hex> naming") {
    val d = "/root/testdata/sf0.01"
    assert(Scratch.path("stream_vev", d) ==
      "/tmp/graft_stream_vev_" + Integer.toHexString(d.hashCode))
  }

  test("staged restages only when the fixture is touched newer than " +
      "its marker, and writes the marker when write did not") {
    val d = Files.createTempDirectory("scratch_fixture").toString
    val src = Paths.get(d, "t.parquet")
    Files.write(src, Array[Byte](1))
    var writes = 0
    def stage(): String = Scratch.staged("spec_stage", d, "t.parquet") { p =>
      writes += 1
      Files.createDirectories(Paths.get(p))
      Files.write(Paths.get(p, "part.bin"), Array[Byte](2))
    }
    try {
      val dir = stage()
      assert(dir == Scratch.path("spec_stage", d) && writes == 1)
      val marker = Paths.get(dir, "_SUCCESS")
      assert(Files.exists(marker))
      stage()
      assert(writes == 1, "a fresh stage must not be rebuilt")
      // the fixture touched after the stage was built: the marker is
      // now older than the fixture
      Files.setLastModifiedTime(marker, FileTime.fromMillis(
        Files.getLastModifiedTime(src).toMillis - 10000))
      stage()
      assert(writes == 2, "a fixture newer than the marker must restage")
      stage()
      assert(writes == 2)
    } finally {
      Scratch.wipe(Scratch.path("spec_stage", d))
      Scratch.wipe(d)
    }
  }

  test("withCheckpoint deletes its dir and unloads state stores even " +
      "when the body throws") {
    implicit val sqlCtx = spark.sqlContext
    def loadedProviders: Int = {
      val f = Class.forName(
          "org.apache.spark.sql.execution.streaming.state.StateStore$")
        .getDeclaredField("loadedProviders")
      f.setAccessible(true)
      val m = f.get(null).asInstanceOf[scala.collection.mutable.Map[_, _]]
      m.synchronized(m.size)
    }
    var ckpt = ""
    val e = intercept[IllegalStateException] {
      Scratch.withCheckpoint { ck =>
        ckpt = ck
        assert(Files.isDirectory(Paths.get(ck)))
        val mem = MemoryStream[Event]
        val q = EventStreams.tumblingAgg(mem.toDF(), "5 minutes", "1 minute")
          .writeStream.outputMode("append").format("noop")
          .option("checkpointLocation", ck).start()
        try {
          mem.addData(Event(1, java.sql.Timestamp.valueOf(
            "2024-01-01 00:01:00"), 1, "click", 1.0, "{}"))
          q.processAllAvailable()
          assert(loadedProviders > 0)
        } finally q.stop()
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage == "boom")
    assert(ckpt.nonEmpty && !Files.exists(Paths.get(ckpt)))
    assert(loadedProviders == 0)
  }

  test("withConf sets every key and restores or unsets each, also " +
      "when the body throws") {
    val set = "spark.sql.shuffle.partitions"
    val unset = "spark.graft.scratchspec.unset"
    val before = spark.conf.get(set)
    assert(spark.conf.getOption(unset).isEmpty)
    intercept[IllegalStateException] {
      Scratch.withConf(spark, set -> "7", unset -> "x") {
        assert(spark.conf.get(set) == "7" && spark.conf.get(unset) == "x")
        throw new IllegalStateException("boom")
      }
    }
    assert(spark.conf.get(set) == before)
    assert(spark.conf.getOption(unset).isEmpty)
  }
}

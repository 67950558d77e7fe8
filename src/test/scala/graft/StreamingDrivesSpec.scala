package graft

/** Every registered streaming drive and every bench-time drive override
  * runs once to completion on the shared session. Each drive `require`s
  * its own contract (one version per batch, consumed feed == table,
  * replayed txn a no-op, …); Bench turns a thrown drive into a `-1` row,
  * so this suite is where a broken drive fails loudly. All drives run at
  * sf0.001 — the smallest fixture already carries the four range-split
  * batches and the rows every drive's witnesses need. */
class StreamingDrivesSpec extends SparkSpec {
  private val dir = sf("sf0.001")

  private val drives =
    SparkEntry.streamingDrives.toSeq.sortBy(_._1) ++
      SparkEntry.streamingDriveOverrides.toSeq.sortBy(_._1).map {
      case (n, f) => (s"$n (bench override)", f)
    }

  test("the registry declares 32 streaming drives and the st22 override") {
    assert(SparkEntry.streamingDrives.size == 32)
    assert(SparkEntry.streamingDriveOverrides.keySet ==
      Set("st22_stream_cdf_ivm"))
  }

  drives.foreach { case (name, f) =>
    test(s"streaming drive $name runs to completion") {
      f(spark, dir)
    }
  }
}

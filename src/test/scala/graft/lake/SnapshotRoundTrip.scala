package graft.lake

import org.apache.hadoop.fs.Path

import graft.TestSpark

/** Round-trips a snapshot through the on-disk format the engine writes:
  * its per-file entries as one file-backed manifest chunk, its list doc
  * through [[ManifestIO.listToJson]], then back through
  * [[ManifestIO.snapshotFromJson]]. The result equals the input except
  * for `manifests`, which names the one chunk written. */
object SnapshotRoundTrip {
  def apply(snap: Snapshot): Snapshot = {
    val dir = new Path(TestSpark.tmpDir("snap-codec"))
    val fs = dir.getFileSystem(TestSpark.spark.sessionState.newHadoopConf())
    val chunk = ManifestIO.writeChunk(fs, dir, snap.entries.values.toSeq)
    ManifestIO.snapshotFromJson(
      ManifestIO.listToJson(snap.copy(manifests = Seq(chunk))),
      n => ManifestIO.readChunk(fs, new Path(dir, n)), _ => false)
  }
}

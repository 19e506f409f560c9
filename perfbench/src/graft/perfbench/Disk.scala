package graft.perfbench

import java.io.File

/** Store layout read from outside: file listings only, no Spark. */
object Disk {
  final case class Usage(bytes: Long, parquetFiles: Long)

  def usage(dir: String): Usage = {
    var bytes = 0L; var parquet = 0L
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
      else if (f.isFile) {
        bytes += f.length()
        if (f.getName.endsWith(".parquet")) parquet += 1
      }
    walk(new File(dir))
    Usage(bytes, parquet)
  }

  def read(path: String): Option[String] = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p)) Some(new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
    else None
  }

  /** A BucketStore's live state as its files record it: the marker names
    * the current manifest, whose lines map a bucket to the generations
    * holding its rows.
    */
  final case class StoreState(batch: Long, manifest: Map[Int, Seq[String]]) {
    def liveGenerations: Int = manifest.values.flatten.toSet.size
  }

  def storeState(dir: String): StoreState = {
    val batch = read(s"$dir/_graft_applied_batch")
      .flatMap(_.linesIterator.toSeq.headOption).map(_.trim.toLong).getOrElse(-1L)
    val manifest = read(s"$dir/_graft_manifest_$batch").map(_.split("\n").filter(_.nonEmpty).map { l =>
      val Array(b, g) = l.split("\t", 2)
      b.toInt -> g.split(",").toSeq
    }.toMap).getOrElse(Map.empty)
    StoreState(batch, manifest)
  }

  /** Parquet files per live bucket of the current snapshot. */
  def filesPerBucket(dir: String, s: StoreState): Double =
    if (s.manifest.isEmpty) 0.0
    else s.manifest.toSeq.map { case (b, gens) =>
      gens.map(g => Option(new File(s"$dir/$g/bucket=$b").listFiles()).map(
        _.count(_.getName.endsWith(".parquet"))).getOrElse(0)).sum
    }.sum.toDouble / s.manifest.size

  /** Bucket dirs generation `gen-<batch>` wrote, and its bytes. */
  def generation(dir: String, batch: Long): (Int, Long) = {
    val g = new File(s"$dir/gen-$batch")
    val buckets = Option(g.listFiles()).map(_.count(f => f.isDirectory && f.getName.startsWith("bucket="))).getOrElse(0)
    (buckets, usage(g.getPath).bytes)
  }
}

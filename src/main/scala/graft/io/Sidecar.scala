package graft.io

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}

/** The one read/write pair behind every tiny text sidecar/marker file
  * (`_folded`, `_checkpoint`, `_sources`, `_stream_synced`,
  * `_fingerprint`, `_refresh`, `_nrows`, `_stats`, `_buckets`, an ANN
  * index's `_metric`, an [[AggView]]'s `_partitions` ledger, the
  * [[InPlaceSwap]] journal): UTF-8, overwrite-create, close in
  * finally. Hoisted (r12 review) so a future hardening — e.g. atomic
  * write-then-rename — lands once, not per copy. */
object Sidecar {

  def write(fs: FileSystem, p: Path, txt: String): Unit = {
    val out = fs.create(p, true)
    try out.write(txt.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  def read(fs: FileSystem, p: Path): Option[String] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), StandardCharsets.UTF_8))
      finally in.close()
    }
}

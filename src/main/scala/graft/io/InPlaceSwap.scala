package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The one in-place file swap of a flat parquet table: the
  * [[TargetedDelete]] takedown and `StreamTierIngest.syncCorpus`'s
  * corpus append both change a live table's files through [[run]]. The
  * caller stages new files, names their destinations and the files
  * they replace; the swap commits that plan to a journal BEFORE the
  * first table mutation, then executes it through the same recovery a
  * crashed attempt's next entry runs.
  *
  * Journal: `old\t<uri>` for the live `_filemap` (when there is one),
  * `mv\t<src>\t<dest>` lines, `old\t<uri>` lines for the replaced files,
  * `END`. Every step is idempotent and every move precedes every file
  * removal: a reader sees rows twice at worst, never row loss.
  *
  * Pending state is per TABLE: both callers mutate the same corpus, so
  * every entry first recovers every caller's journal, staging and staged
  * manifest on it. The next manifest (live entries − removed names + the
  * staged files' stats under their destination names) is staged before
  * the journal; the live one stays until the journal is complete, so a
  * torn journal leaves the untouched table with its truthful manifest.
  * One rule decides a staged manifest after every recovery: adopted
  * only when no live one exists and it lists exactly the on-disk data
  * files, deleted otherwise — a manifest, unlike a parquet footer, CAN
  * mis-prune if it lies.
  */
object InPlaceSwap {

  /** Who swaps. Each caller's swap state keeps the on-disk names its
    * crash states have always had: the takedown's beside the table, the
    * sync's dot-prefixed inside the corpus (invisible to readers and to
    * the tiers' source fingerprints). */
  sealed trait Caller
  case object Takedown extends Caller
  case object CorpusSync extends Caller

  /** A caller's plan: the `result` to hand back, staged file →
    * destination basename in the table, and the table files to remove. */
  final case class Plan[A](result: A, moves: Seq[(Path, String)] = Nil,
                           removals: Seq[Path] = Nil)

  private final case class Site(journal: Path, nextManifest: Path, staging: Seq[Path])

  private def site(table: String, c: Caller): Site = c match {
    case Takedown => Site(new Path(table + ".delete-journal"),
      new Path(table + ".filemap-staging"), Seq(new Path(table + ".delete-staging")))
    case CorpusSync =>
      val t = new Path(table)
      Site(new Path(t, ".stream-sync-journal"), new Path(t, ".filemap-sync-staging"),
        Seq(new Path(t, ".stream-sync-staging"), new Path(t, ".stream-sync-staging2")))
  }

  /** Recover the table, hand `stage` the caller's (empty) staging dirs,
    * then swap in the plan it returns; returns the plan's result. A plan
    * with no moves and no removals leaves the table as it is. */
  def run[A](s: SparkSession, table: String, caller: Caller)(
      stage: Seq[Path] => Plan[A]): A = {
    recover(s, table)
    val at = site(table, caller)
    val plan = stage(at.staging)
    if (plan.moves.nonEmpty || plan.removals.nonEmpty)
      swap(s, table, at, plan.moves, plan.removals)
    plan.result
  }

  /** Every caller's state on `table`: a complete journal is replayed, a
    * torn one (the table was never touched) discarded, the staging dirs
    * dropped, each staged manifest adopted or deleted by the one rule. */
  private def recover(s: SparkSession, table: String): Unit = {
    val t = new Path(table)
    val fs = t.getFileSystem(s.sparkContext.hadoopConfiguration)
    val sites = Seq(Takedown, CorpusSync).map(site(table, _))
    val journals = sites.flatMap(at => Sidecar.read(fs, at.journal).map(at.journal -> _))
    journals.foreach { case (_, j) =>
      val lines = j.split("\n").toSeq.filter(_.nonEmpty)
      if (lines.lastOption.contains("END")) replay(fs, lines)
    }
    sites.flatMap(_.staging).foreach(fs.delete(_, true))
    journals.foreach { case (p, _) => fs.delete(p, false) }
    val live = new Path(t, ZoneMap.ManifestDir)
    def describesOnDisk(m: Path) = scala.util.Try {
      val described = s.read.parquet(m.toString).collect().map(_.getAs[String]("file")).toSet
      described.nonEmpty && described == fs.listStatus(t).map(_.getPath.getName)
        .filter(n => !graft.core.Tables.hidden(n) && n.endsWith(".parquet")).toSet
    }.getOrElse(false)
    sites.map(_.nextManifest).filter(fs.exists).foreach { m =>
      if (!fs.exists(live) && describesOnDisk(m))
        require(fs.rename(m, live), s"manifest adoption rename $m failed")
      else fs.delete(m, true)
    }
  }

  private def swap(s: SparkSession, table: String, at: Site,
                   moves: Seq[(Path, String)], removals: Seq[Path]): Unit = {
    val t = new Path(table)
    val fs = t.getFileSystem(s.sparkContext.hadoopConfiguration)
    val dests = moves.map { case (_, d) => fs.makeQualified(new Path(t, d)) }
    require(!dests.exists(fs.exists),
      s"swap into $table: a destination already exists: ${dests.filter(fs.exists)}")
    require(dests.intersect(removals.map(fs.makeQualified)).isEmpty,
      s"swap into $table: a destination is also being removed")
    val live = new Path(t, ZoneMap.ManifestDir)
    val liveManifest = ZoneMap.manifestOf(s, table).map { m =>
      val kept = s.read.parquet(live.toString)
        .filter(!col("file").isin(removals.map(_.getName): _*))
      val next =
        if (moves.isEmpty) kept
        else kept.unionByName(
          ZoneMap.statsOfFrame(s.read.parquet(moves.map(_._1.toString): _*), m.key)
            .join(s.createDataFrame(moves.map { case (src, d) => src.getName -> d })
              .toDF("file", "dest"), "file")
            .select(col("dest").as("file"), col("fmin"), col("fmax"), col("kname")))
      next.coalesce(1).write.mode("overwrite").parquet(at.nextManifest.toString)
      live
    }
    Sidecar.write(fs, at.journal, (
      liveManifest.map(l => s"old\t${l.toUri}").toSeq ++
        moves.map { case (src, d) => s"mv\t$src\t${new Path(t, d)}" } ++
        removals.map(r => s"old\t${r.toUri}") :+ "END").mkString("\n"))
    recover(s, table)
  }

  private def replay(fs: FileSystem, lines: Seq[String]): Unit =
    lines.foreach {
      case l if l.startsWith("mv\t") =>
        val Array(_, src, dest) = l.split("\t", 3)
        val (a, b) = (new Path(src), new Path(dest))
        if (fs.exists(a) && !fs.exists(b))
          require(fs.rename(a, b), s"swap rename $a -> $b failed")
      case l if l.startsWith("old\t") =>
        fs.delete(new Path(new java.net.URI(l.stripPrefix("old\t"))), true): Unit
      case _ => ()
    }
}

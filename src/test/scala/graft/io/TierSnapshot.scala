package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** The committed version of every [[DerivedStore]] under the current
  * store root (`<root>/<dir key>/<store name>`), taken at construction.
  * A spec takes one before a block and asks afterwards what the block
  * published: each store whose committed version advanced, with the
  * [[DerivedStore.RefreshRecord]] its newest version committed. */
final class TierSnapshot(s: SparkSession) {

  private val root = new Path(DerivedStore.root)

  private def versions(): Map[String, Long] = {
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    def dirs(p: Path) =
      if (!fs.exists(p)) Seq.empty[Path]
      else fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath)
    (for {
      d <- dirs(root)
      st <- dirs(d)
      store = s"${DerivedStore.root}/${d.getName}/${st.getName}"
      v <- AtomicPublish.currentVersion(s, store)
    } yield store -> v).toMap
  }

  private val before = versions()

  /** Store path → the record of its newest version (None: the version
    * carries no record), for every store that advanced since the
    * snapshot. Empty when the block published nothing. */
  def published: Map[String, Option[DerivedStore.RefreshRecord]] =
    versions().collect {
      case (store, v) if !before.get(store).contains(v) =>
        store -> DerivedStore.refreshOf(s, s"$store/v=$v")
    }

  /** [[published]] keyed by store name alone, mode only
    * ("unrecorded" for a version without a record). */
  def modesByName: Map[String, String] =
    published.map { case (store, r) =>
      new Path(store).getName -> r.fold("unrecorded")(_.mode)
    }

  /** The record store `name` of `dir` committed, if it advanced. */
  def recordOf(dir: String, name: String): Option[DerivedStore.RefreshRecord] =
    published.get(DerivedStore.storePath(dir, name)).flatten

  /** The mode store `name` of `dir` published, if it advanced. */
  def modeOf(dir: String, name: String): Option[String] =
    recordOf(dir, name).map(_.mode)
}

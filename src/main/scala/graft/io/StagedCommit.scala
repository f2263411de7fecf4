package graft.io

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The one crash-safe commit protocol of graft's path-based stores. A
  * mutation never writes a live dir in place; it goes through four steps:
  *
  *  1. [[reset]] the store's stage dir and write the new dirs or files
  *     under it (reading the live store, writing a disjoint path);
  *  2. [[commit]] the install plan as a marker file, written to a `.tmp`
  *     sibling and renamed into place — the commit point;
  *  3. replay the plan by renames and deletes, then drop the stage dir
  *     and the marker;
  *  4. [[recover]] from every entry point of the store: a marker present
  *     means the install is finished (every step is idempotent, so a
  *     replay from any crash point converges); no marker means the stage
  *     dir and any leftover `.tmp` are garbage and are discarded.
  *
  * So after a crash at any write step the store reads as exactly before
  * or exactly after the mutation.
  *
  * A plan is one line per dir or file: `keep <dir>` replaces the live
  * dir or file with its staged copy if that copy still exists (a missing
  * copy was already installed by an earlier replay), `drop <dir>`
  * deletes the live one. The whole plan is parsed before anything is
  * touched; a line that is neither fails with the marker path.
  */
object StagedCommit {

  sealed trait Step { def dir: String }
  final case class Keep(dir: String) extends Step
  final case class Drop(dir: String) extends Step

  /** Where one store's commit lives: the stage dir and the marker are
    * children of `root`, and plan lines name dirs or files in `live`
    * (relative to `root`, the root itself when empty).
    */
  class Layout(val root: Path, val stage: String, val marker: String, live: String = "") {
    val stageDir = new Path(root, stage)
    val markerFile = new Path(root, marker)
    val liveDir: Path = if (live.isEmpty) root else new Path(root, live)
    /** Where `keep dir` finds its staged copy. */
    def staged(dir: String): Path = new Path(stageDir, dir)
  }

  def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  /** Step 1: an empty stage dir to write the new dirs or files under. */
  def reset(fs: FileSystem, l: Layout): Path = {
    fs.delete(l.stageDir, true)
    l.stageDir
  }

  /** Steps 2 and 3: commit `plan`, then install it. */
  def commit(fs: FileSystem, l: Layout, plan: Seq[Step]): Unit = {
    writeAtomic(fs, l.markerFile, plan.map {
      case Keep(d) => s"keep $d"
      case Drop(d) => s"drop $d"
    }.mkString("\n"))
    install(fs, l)
  }

  /** Step 4 for every layout sharing one root, from one listing of it. */
  def recover(fs: FileSystem, layouts: Layout*): Unit = {
    val names = (try fs.listStatus(layouts.head.root).map(_.getPath.getName).toSet
      catch { case _: java.io.FileNotFoundException => Set.empty[String] })
    layouts.foreach { l =>
      if (names(l.marker)) install(fs, l)
      else if (names(l.stage)) fs.delete(l.stageDir, true)
      if (names(l.marker + ".tmp")) fs.delete(tmpOf(l.markerFile), false)
    }
  }

  /** `text` at `path` or not at all: written to `path.tmp`, then renamed.
    * `path` must be absent (a marker is, once [[recover]] has run): a
    * delete before the rename would leave neither copy if the rename
    * never happened.
    */
  def writeAtomic(fs: FileSystem, path: Path, text: String): Unit = {
    val tmp = tmpOf(path)
    val out = fs.create(tmp, true)
    try out.write(text.getBytes(UTF_8)) finally out.close()
    if (!fs.rename(tmp, path)) throw new java.io.IOException(s"rename $tmp -> $path failed")
  }

  private def tmpOf(p: Path) = new Path(p.getParent, p.getName + ".tmp")

  private def install(fs: FileSystem, l: Layout): Unit = {
    val in = fs.open(l.markerFile)
    val text = try new String(org.apache.commons.io.IOUtils.toByteArray(in), UTF_8)
      finally in.close()
    val plan = text.linesIterator.map(_.trim).filter(_.nonEmpty).map(parse(l, _)).toList
    plan.foreach { step =>
      val live = new Path(l.liveDir, step.dir)
      step match {
        case Keep(d) =>
          val staged = l.staged(d)
          if (fs.exists(staged)) {
            fs.delete(live, true)
            if (!fs.rename(staged, live))
              throw new java.io.IOException(s"rename $staged -> $live failed")
          }
        case Drop(_) => fs.delete(live, true)
      }
    }
    fs.delete(l.stageDir, true)
    fs.delete(l.markerFile, false)
  }

  private def parse(l: Layout, line: String): Step = line.split("\\s+", 2) match {
    case Array("keep", d) => Keep(d)
    case Array("drop", d) => Drop(d)
    case _ => throw new IllegalStateException(
      s"${l.markerFile}: plan line '$line' is neither 'keep <dir>' nor 'drop <dir>'; " +
        "no dir was touched — repair or remove the marker")
  }
}

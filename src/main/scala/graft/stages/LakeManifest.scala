package graft.stages

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** One lake file as a stage sees it: `key` is the file's path under its
  * source dir, prefixed with the source name (`Financial Times/etf/
  * 2024-05-01/VUSA_history.csv`), so the key survives a move of the
  * lake; `digest` is the MD5 of the file's bytes. */
private[graft] final case class LakeFile(source: String, key: String, path: Path,
                                         digest: String)

/** The lake manifest of one daily stage: for each lake file whose rows
  * the stage's tables hold, the digest of the content they were loaded
  * from. A stage reads only the files whose (key, digest) the manifest
  * does not hold, and [[commit]]s them after its upserts committed.
  *
  * Layout, under `dir` (`<warehouseRoot>/_manifest/<stage>`): one file
  * per commit, named by its commit number. A commit whose number is a
  * multiple of [[FoldEvery]] is `<n>.snapshot`: every file of the lake
  * at that commit, and the commits before it are deleted. Any other
  * commit is `<n>.delta`: the entries it changed. The state is the
  * latest snapshot with the deltas after it laid over it, as Spark's
  * `CompactibleFileStreamLog` folds its batch files. So a day writes
  * bytes in proportion to the files that changed, and a reader opens at
  * most [[FoldEvery]] files. Each line is `<digest>\t<key>`.
  *
  * A commit file is written under a hidden name and renamed into place,
  * so a crash leaves either the whole commit or none of it. A lost
  * commit, or a deleted manifest, only makes the stage read more: a file
  * missing from the manifest is read again, and its upsert is
  * idempotent. One writer per stage: the daily schedule runs each stage
  * once per run. */
private[graft] final class LakeManifest(fs: FileSystem, dir: Path) {
  import LakeManifest._

  /** Committed files by number, from the listing of `dir`. */
  private def commits(): Seq[(Long, Path)] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.flatMap { s =>
      CommitName.unapplySeq(s.getPath.getName).map(g => g.head.toLong -> s.getPath)
    }.sortBy(_._1)

  private def read(p: Path): Seq[(String, String)] = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList.flatMap { l =>
      l.split("\t", 2) match {
        case Array(digest, key) => Some(key -> digest)
        case _ => None
      }
    } finally in.close()
  }

  /** The committed digest of each file key. */
  def entries(): Map[String, String] = {
    val cs = commits()
    val from = cs.lastIndexWhere(_._2.getName.endsWith(".snapshot")) max 0
    cs.drop(from).foldLeft(Map.empty[String, String])((m, c) => m ++ read(c._2))
  }

  /** Records `changed` as loaded. `listed` is every file of the stage's
    * lake now, all of whose content the tables hold once `changed` is
    * loaded; a folding commit writes it whole. */
  def commit(changed: Seq[LakeFile], listed: Seq[LakeFile]): Unit = {
    val cs = commits()
    val n = cs.lastOption.fold(0L)(_._1 + 1)
    val fold = n % FoldEvery == 0
    val name = if (fold) s"$n.snapshot" else s"$n.delta"
    val tmp = new Path(dir, s".$name.tmp")
    val out = fs.create(tmp, true)
    try (if (fold) listed else changed).foreach { f =>
      out.write(s"${f.digest}\t${f.key}\n".getBytes("UTF-8"))
    } finally out.close()
    if (!fs.rename(tmp, new Path(dir, name)))
      throw new java.io.IOException(s"rename failed: $tmp -> $dir/$name")
    if (fold) cs.foreach(c => fs.delete(c._2, false))
  }
}

private[graft] object LakeManifest {

  /** Commits between two snapshots. */
  val FoldEvery = 10

  private val CommitName = """(\d+)\.(?:delta|snapshot)""".r

  /** `files` of `source` (all under `dir`) with their keys and digests.
    * Reads every byte of every file, on the driver; parses none. */
  def fingerprint(conf: Configuration, source: String, dir: String,
                  files: Seq[Path]): Seq[LakeFile] = {
    val fs = new Path(dir).getFileSystem(conf)
    val root = fs.makeQualified(new Path(dir)).toUri.getPath.stripSuffix("/") + "/"
    files.map { p =>
      val path = fs.makeQualified(p).toUri.getPath
      LakeFile(source, s"$source/${path.stripPrefix(root)}", p, digest(fs, p))
    }
  }

  private def digest(fs: FileSystem, p: Path): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val in = fs.open(p)
    try {
      val buf = new Array[Byte](65536)
      var n = in.read(buf)
      while (n >= 0) { md.update(buf, 0, n); n = in.read(buf) }
    } finally in.close()
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}

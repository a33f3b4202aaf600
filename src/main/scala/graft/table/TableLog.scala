package graft.table

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths,
  StandardCopyOption, StandardOpenOption}
import scala.jdk.CollectionConverters._

/** The metadata-file I/O of the hand-built table format: every
  * manifest, schema, layout and checkpoint file the table family
  * (o12–o32, the st25–st29 consumers, s28, d18) commits or resolves
  * goes through here. This object owns only how a named file under a
  * table's `base` dir is created, swapped, read and listed — one place
  * where the commit decision lives. What a body MEANS is decided once
  * too: every `manifest-N` and `checkpoint-N` body of the
  * numbered-manifest chain is encoded, decoded and read in [[Snapshot]]
  * (the way the Delta log keeps commit and snapshot resolution in one
  * module). The named exceptions keep a grammar of their own: o18's
  * `schema-v` and o19's `layout-v` files, and the `manifest-N` bodies
  * of o25's partition map and s28's cell entries (`TableLogGuardSpec`
  * lists them with their reasons).
  *
  * Every write lands through a scratch file named per ATTEMPT
  * (`.<name>.<nonce>`, dot-prefixed so no reader or Spark file listing
  * sees it) and is removed on every exit. Two writers racing the same
  * name therefore never share a scratch inode: with a shared scratch,
  * one racer can hard-link the other's (or a half-written) body into
  * place, report a win, and lose its own update.
  *
  * Local POSIX only: the commit point is `link(2)`, which creates a
  * name atomically or fails with EEXIST. Hadoop's local `create(path,
  * overwrite = false)` checks, then creates, so it cannot stand in
  * without weakening the CAS.
  */
object TableLog {

  /** The numbered manifest of version `v`. */
  def manifest(v: Int): String = s"manifest-$v"

  /** Spark file-source glob that matches exactly the numbered
    * manifests (the streaming feed consumers' notification channel). */
  val ManifestGlob = "manifest-*"

  /** The checkpoint folding the chain through version `v`. */
  def checkpoint(v: Int): String = s"checkpoint-$v"

  /** The monotone pointer to the newest checkpoint. */
  val LastCheckpoint = "_last_checkpoint"

  private val Numbered = """manifest-(\d+)""".r
  private val Checkpointed = """checkpoint-(\d+)""".r

  /** The version a numbered manifest's file name or path names. */
  def manifestVersion(path: String): Option[Int] =
    path.substring(path.lastIndexOf('/') + 1) match {
      case Numbered(v) => Some(v.toInt)
      case _ => None
    }

  private def scratchFor(base: String, name: String): Path =
    Paths.get(base, s".$name.${java.util.UUID.randomUUID()}")

  /** Write `body` to a fresh scratch file, run `publish` on it, and
    * remove the scratch whatever happens. The writer reports
    * unencodable text, so a body that cannot be written whole never
    * reaches `publish`. */
  private def viaScratch[A](base: String, name: String, body: String)(
      publish: Path => A): A = {
    val scratch = scratchFor(base, name)
    try {
      val w = Files.newBufferedWriter(scratch, UTF_8,
        StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
      try w.write(body) finally w.close()
      publish(scratch)
    } finally Files.deleteIfExists(scratch)
  }

  /** Put-if-absent: create `base/name` holding `body` iff no file of
    * that name exists. Returns true iff THIS call created it; false
    * iff another writer's file was there first (the conflict signal a
    * committer retries on). A winning file is always complete. */
  def create(base: String, name: String, body: String): Boolean =
    viaScratch(base, name, body) { scratch =>
      try { Files.createLink(Paths.get(base, name), scratch); true }
      catch { case _: FileAlreadyExistsException => false }
    }

  /** Atomic swap: `base/name` holds `body` afterwards, and a reader
    * sees either the old file or the new one, never a partial write.
    * Last writer wins. */
  def replace(base: String, name: String, body: String): Unit =
    viaScratch(base, name, body) { scratch =>
      Files.move(scratch, Paths.get(base, name),
        StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    }

  private def pointer(base: String): Int =
    get(base, LastCheckpoint)
      .flatMap(p => scala.util.Try(p.trim.toInt).toOption).getOrElse(0)

  /** Move the `_last_checkpoint` pointer to `v` unless it already names
    * `v` or later: a stale checkpointer never moves it backward. (The
    * check and the swap are two steps, so the rule holds against a
    * checkpointer that runs late, not against two swapping at the same
    * instant.) Returns the version the pointer names after the call. */
  def advancePointer(base: String, v: Int): Int = {
    if (v > pointer(base)) replace(base, LastCheckpoint, v.toString)
    pointer(base)
  }

  /** The committed body of `base/name`, or None if no such file. */
  def get(base: String, name: String): Option[String] = {
    val f = Paths.get(base, name)
    try Some(Files.readString(f))
    catch { case _: java.nio.file.NoSuchFileException => None }
  }

  /** The committed body of `base/name`; an absent file is an
    * uncommitted version and fails loudly. */
  def read(base: String, name: String): String =
    get(base, name).getOrElse(throw new IllegalArgumentException(
      s"requirement failed: version ${name.split('-').last} is not " +
        s"committed (no $name)"))

  /** The versions of the files at `base` whose names match `named`,
    * ascending (one closed directory listing; empty if `base` does not
    * exist). */
  private def numbered(base: String, named: scala.util.matching.Regex)
      : Seq[Int] = {
    val dir = Paths.get(base)
    if (!Files.isDirectory(dir)) Seq.empty
    else graft.Tables.listDir(dir).map(_.getFileName.toString)
      .collect { case named(v) => v.toInt }.sorted
  }

  /** The committed numbered-manifest versions at `base`, ascending. */
  def versions(base: String): Seq[Int] = numbered(base, Numbered)

  /** The versions the checkpoint files at `base` fold up to, ascending. */
  def checkpoints(base: String): Seq[Int] = numbered(base, Checkpointed)

  /** The newest committed version, 0 for an empty table. */
  def latest(base: String): Int = versions(base).lastOption.getOrElse(0)

  /** Every regular file under `root` (recursive; the walk is closed)
    * that `keep` accepts, as (path, size) sorted by path: the listing
    * the in-op byte-identity proofs compare before and after an
    * operation. */
  def files(root: Path, keep: Path => Boolean): Seq[(String, Long)] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala
      .filter(p => Files.isRegularFile(p) && keep(p))
      .map(p => (p.toString, Files.size(p)))
      .toVector.sortBy(_._1)
    finally walk.close()
  }

  /** [[files]]' usual filter: skip `_SUCCESS`-style marker files. */
  val noMarkers: Path => Boolean = !_.getFileName.toString.startsWith("_")
}

package graft.table

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, lit}

/** The numbered-manifest table chain's one format: what a `manifest-N`
  * and a `checkpoint-N` body mean, and how a version's rows are read.
  * Every table of `data-<token>` dirs plus numbered manifests commits,
  * decodes and reads its versions here; [[TableLog]] below only moves
  * bytes (the Delta log's split of action encoding and snapshot
  * resolution from file I/O).
  *
  * A manifest body is line-oriented:
  *  - line 1: the PRIMARY data token (a local `data-<token>` dir, or an
  *    absolute path: a shallow clone names its source's files);
  *  - `minReader:<n>`: the reader protocol the version needs, stamped
  *    iff it is above 1 ([[Manifest.minReader]]);
  *  - `add:<token>`: further data tokens (a MERGE's or append's delta
  *    files, committed next to the primary without rewriting it);
  *  - `dv:<token>`: the positional deletion vector masking the data;
  *  - `eq:<token>=<tok>,<tok>…`: an equality-delete key file and the
  *    data tokens it masks (the Iceberg v2 sequence rule made
  *    explicit: a file committed later is never masked by it);
  *  - `rewriteOf:<v>`: the commit is a pure physical rewrite of
  *    version v (OPTIMIZE — dataChange=false in the Delta protocol).
  *
  * A checkpoint body folds the chain into `v:token` lines, one per
  * version, primary tokens only. [[TableLog]] names the bodies that
  * keep a grammar of their own.
  */
object Snapshot {

  /** The reader protocol this reader supports (the Delta
    * minReaderVersion / Iceberg format-version gate): version 2 adds
    * `add:`/`eq:` lines to version 1's token + vector grammar. */
  val ReaderVersion = 2

  /** Characters no token may carry: they delimit lines and entries. */
  private val Delimiters = ":=,\n"

  /** One version of a table (see the grammar above). */
  case class Manifest(token: String, dv: Option[String] = None,
      adds: Seq[String] = Nil, eqs: Seq[(String, Seq[String])] = Nil,
      rewriteOf: Option[Int] = None) {

    /** Every data token the version reads, primary first. */
    def dataTokens: Seq[String] = token +: adds

    /** The reader protocol the version needs: 2 once it carries a line
      * a version-1 reader would ignore and read wrong rows for (an
      * ignored `rewriteOf:` marker leaves a plain read correct). */
    def minReader: Int = if (adds.nonEmpty || eqs.nonEmpty) 2 else 1
  }

  /** The manifest's body. Refuses a token that is empty, padded, or
    * carries a delimiter, so a decode can never silently mis-split. */
  def encode(m: Manifest): String = {
    val tokens = m.dataTokens ++ m.dv ++
      m.eqs.flatMap { case (t, applies) => t +: applies }
    require(m.eqs.forall(_._2.nonEmpty) && tokens.forall(t =>
        t.nonEmpty && t.trim == t && !t.exists(Delimiters.contains(_))),
      s"snapshot: tokens must be non-empty, unpadded and free of " +
        s"manifest delimiters, got $m")
    (Seq(m.token) ++
      (if (m.minReader > 1) Seq(s"minReader:${m.minReader}") else Nil) ++
      m.adds.map(t => s"add:$t") ++
      m.dv.map(t => s"dv:$t") ++
      m.eqs.map { case (t, applies) => s"eq:$t=${applies.mkString(",")}" } ++
      m.rewriteOf.map(pv => s"rewriteOf:$pv")).mkString("\n")
  }

  /** The manifest a body encodes. The protocol gate runs BEFORE any
    * feature line is interpreted: a body that needs a newer reader
    * than `maxReader` is refused loudly, naming both versions. */
  def decode(body: String, maxReader: Int = ReaderVersion,
      what: String = "manifest"): Manifest = {
    val lines = body.split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
    def field(key: String): Seq[String] =
      lines.filter(_.startsWith(s"$key:")).map(_.stripPrefix(s"$key:"))
    // the strictest stamp wins: a gate is never relaxed by a later line
    val minReader = field("minReader").map(_.toInt).maxOption.getOrElse(1)
    require(minReader <= maxReader,
      s"snapshot: $what requires reader protocol $minReader, this " +
        s"reader supports $maxReader — refusing (reading anyway would " +
        "silently drop feature lines and return wrong rows)")
    Manifest(
      token = lines.head,
      dv = field("dv").headOption,
      adds = field("add"),
      eqs = field("eq").map { e =>
        val Array(t, applies) = e.split("=", 2)
        (t, applies.split(",").filter(_.nonEmpty).toSeq)
      },
      rewriteOf = field("rewriteOf").headOption.map(_.toInt))
  }

  /** CAS-commit version `v` ([[TableLog.create]]): true iff this call
    * created `manifest-v`, false iff another writer's commit was there
    * first. Racers that share tokens (two DV deletes of one table) each
    * land their own body or none. */
  def commit(base: String, v: Int, m: Manifest): Boolean =
    TableLog.create(base, TableLog.manifest(v), encode(m))

  /** Version `v`'s manifest; an uncommitted (or expired) version fails
    * loudly. */
  def manifestOf(base: String, v: Int,
      maxReader: Int = ReaderVersion): Manifest =
    decode(TableLog.read(base, TableLog.manifest(v)), maxReader,
      s"version $v")

  /** Version `v`'s manifest, or None if it is not committed. */
  def find(base: String, v: Int): Option[Manifest] =
    TableLog.get(base, TableLog.manifest(v))
      .map(decode(_, ReaderVersion, s"version $v"))

  /** Where a data token's files live: its `data-` dir under `base`, or
    * the absolute path a shallow clone names. */
  def dataPath(base: String, token: String): String =
    if (token.startsWith("/")) token else s"$base/data-$token"

  /** Version `v`'s rows, read strictly through its manifest with every
    * mask it names applied. With `addresses` each row keeps its file
    * and position in it (`__dv_file`/`__dv_pos`: the parquet scan's own
    * `_metadata.file_path`/`row_index`, Iceberg's positional-delete
    * coordinates) and its data token (`__tok`), for callers that write
    * masks (delete, equality → positional conversion, change feeds). */
  def read(s: SparkSession, base: String, v: Int,
      addresses: Boolean = false): DataFrame =
    scan(s, base, manifestOf(base, v), addresses)

  /** The rows manifest `m` names (see [[read]]). A version with no mask
    * is a plain scan of its data tokens: the row addresses cost a
    * metadata-column scan under two extra projections, so they are
    * read only when a mask or the caller needs them. The positional
    * vector is one broadcast anti-join on (file, position); each
    * equality entry anti-joins only the tokens it applies to. */
  def scan(s: SparkSession, base: String, m: Manifest,
      addresses: Boolean = false): DataFrame =
    if (!addresses && m.dv.isEmpty && m.eqs.isEmpty)
      m.dataTokens.map(t => s.read.parquet(dataPath(base, t)))
        .reduce(_ unionByName _)
    else {
      val rows = m.dataTokens.map(t => s.read.parquet(dataPath(base, t))
          .withColumn("__dv_file", col("_metadata.file_path"))
          .withColumn("__dv_pos", col("_metadata.row_index"))
          .withColumn("__tok", lit(t)))
        .reduce(_ unionByName _)
      val posMasked = m.dv.fold(rows) { t =>
        val dv = s.read.parquet(s"$base/dv-$t")
        rows.join(broadcast(dv), rows("__dv_file") === dv("file_path") &&
          rows("__dv_pos") === dv("pos"), "left_anti")
      }
      val masked = m.eqs.foldLeft(posMasked)((acc, e) =>
        eqJoin(s, base, acc, e, "left_anti"))
      if (addresses) masked else masked.drop("__dv_file", "__dv_pos", "__tok")
    }

  /** Addressed rows joined (`how`: anti to mask, semi to find victims)
    * with equality entry `e`'s key file, on its key columns and only
    * on the data tokens the entry applies to. */
  def eqJoin(s: SparkSession, base: String, rows: DataFrame,
      e: (String, Seq[String]), how: String): DataFrame = {
    val keys = s.read.parquet(s"$base/eq-${e._1}")
    rows.join(broadcast(keys), keys.columns.map(c => rows(c) === keys(c))
      .reduce(_ && _) && rows("__tok").isin(e._2: _*), how)
  }

  /** Write `m`'s vector with `addrs` (`file_path`, `pos`) added as
    * vector `token`: deletes compose. */
  def writeVector(s: SparkSession, base: String, m: Manifest,
      addrs: DataFrame, token: String): Unit =
    m.dv.map(t => s.read.parquet(s"$base/dv-$t"))
      .fold(addrs)(_ unionByName addrs)
      .coalesce(1).write.mode("overwrite").parquet(s"$base/dv-$token")

  /** The addresses `next`'s vector masks and `prev`'s does not (the rows
    * a delete commit removed), or None when `next` brings no new vector. */
  def vectorDelta(s: SparkSession, base: String, prev: Manifest,
      next: Manifest): Option[DataFrame] =
    next.dv.filterNot(prev.dv.contains).map { t =>
      val dv = s.read.parquet(s"$base/dv-$t")
      prev.dv.fold(dv)(p => dv.join(s.read.parquet(s"$base/dv-$p"),
        Seq("file_path", "pos"), "left_anti"))
    }

  /** A checkpoint body: the chain's `(version, primary token)` pairs. */
  def fold(chain: Seq[(Int, String)]): String = {
    require(chain.forall(_._2.forall(_ != '\n')),
      s"snapshot: a checkpoint token may not carry a line break: $chain")
    chain.map { case (v, t) => s"$v:$t" }.mkString("\n")
  }

  /** The chain a checkpoint body folds. */
  def unfold(body: String): Seq[(Int, String)] =
    body.split("\n").filter(_.nonEmpty).toSeq.map { line =>
      val Array(v, t) = line.split(":", 2)
      (v.toInt, t)
    }

  /** The chain `checkpoint-v` folds; an absent checkpoint fails loudly. */
  def checkpointOf(base: String, v: Int): Seq[(Int, String)] =
    unfold(TableLog.read(base, TableLog.checkpoint(v)))

  /** Write `checkpoint-upTo` folding `chain`. A fold is content-
    * deterministic, so by default a twin already there wins; `replace`
    * swaps it atomically instead (the vacuum's retained-only rewrite). */
  def writeCheckpoint(base: String, upTo: Int, chain: Seq[(Int, String)],
      replace: Boolean = false): Unit =
    if (replace) TableLog.replace(base, TableLog.checkpoint(upTo), fold(chain))
    else TableLog.create(base, TableLog.checkpoint(upTo), fold(chain))
}

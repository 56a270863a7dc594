package graft.checkpoint

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Iceberg-style snapshot/manifest checkpointing (SURVEY.md §4 exactly-once
  * row, §7.1).
  *
  * No Iceberg runtime jar ships in this sandbox (offline coursier), so the
  * semantics the north rule needs — atomic multi-table commit, exact resume,
  * per-round lineage — are provided by a minimal manifest layer:
  *
  *   root/
  *     data/<table>/v<version>/   parquet written by Spark
  *     manifests/v<version>.json  names every table path of that snapshot
  *     manifests/CURRENT          last durably-committed version number
  *
  * Commit protocol = write all data files → write manifest to a temp file →
  * ATOMIC_MOVE into place → ATOMIC_MOVE a new CURRENT. A crash anywhere
  * before the final move leaves the previous snapshot intact; resume reads
  * CURRENT and sees only fully-committed state (kill-and-resume ≡
  * uninterrupted run, tested in CheckpointSpec).
  *
  * Iceberg mapping: manifest ≈ snapshot metadata JSON; CURRENT ≈ the
  * catalog's table-pointer swap; data/<table>/v<N> ≈ a snapshot's manifest
  * list. On a real cluster this directory lives on an object store /
  * HDFS where rename-commit is provided by the catalog instead.
  *
  * A manifest value is a LIST: an append-only table's delta chain, a
  * snapshot table's single path, or a set of committed ids (stream batch
  * ids, ingested file names). This class owns that list encoding — callers
  * read with [[SnapshotStore.list]] and write with [[update]].
  */
final class SnapshotStore(rootDir: String) {

  private val root = Paths.get(rootDir)
  private val manifests = root.resolve("manifests")
  Files.createDirectories(manifests)

  def dataPath(table: String, version: Int): String =
    root.resolve("data").resolve(table).resolve(s"v$version").toString

  /** Atomically commit a snapshot naming each table's data path. */
  def commit(version: Int, tables: Map[String, String]): Unit = {
    val body = tables.toSeq.sortBy(_._1)
      .map { case (k, v) => s"""    "${esc(k)}": "${esc(v)}"""" }
      .mkString(s"""{\n  "version": $version,\n  "tables": {\n""", ",\n", "\n  }\n}\n")
    val tmp = Files.createTempFile(manifests, s"v$version", ".tmp")
    Files.writeString(tmp, body)
    Files.move(tmp, manifests.resolve(s"v$version.json"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    val curTmp = Files.createTempFile(manifests, "CURRENT", ".tmp")
    Files.writeString(curTmp, version.toString)
    Files.move(curTmp, manifests.resolve("CURRENT"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Commit `version` with each of `tables` (a list, see the class doc)
    * replacing its key and every other table of the current snapshot
    * carried forward: committers share one store (a crawl beside a
    * persisted IVF model, `Ann.saveCentroids`), and a commit that rebuilt
    * the manifest from its own tables alone would drop the others.
    */
  def update(version: Int, tables: Map[String, Seq[String]]): Unit =
    commit(version, readCurrent().map(_._2).getOrElse(Map.empty) ++
      tables.map { case (k, xs) => k -> SnapshotStore.joinList(k, xs) })

  /** Latest durably-committed version, if any. */
  def currentVersion(): Option[Int] = {
    val cur = manifests.resolve("CURRENT")
    if (Files.exists(cur)) Some(Files.readString(cur).trim.toInt) else None
  }

  /** Table→path map of a committed snapshot. */
  def readManifest(version: Int): Map[String, String] = {
    val body = Files.readString(manifests.resolve(s"v$version.json"))
    // manifest JSON is machine-written flat key-value; parse accordingly.
    // The token pattern accepts escape pairs — a value containing `\` or
    // `"` (e.g. a Windows checkpoint path) is written escaped by esc(), and
    // a reader that cannot match escapes would silently DROP that table
    // from the map, breaking resume.
    """"((?:[^"\\]|\\.)+)":\s*"((?:[^"\\]|\\.)*)"""".r
      .findAllMatchIn(body)
      .map(m => unesc(m.group(1)) -> unesc(m.group(2)))
      .toMap
  }

  def readCurrent(): Option[(Int, Map[String, String])] =
    currentVersion().map(v => (v, readManifest(v)))

  /** All committed versions, ascending — the lineage chain. */
  def versions(): Seq[Int] =
    scala.util.Using.resource(Files.list(manifests)) { stream =>
      stream.iterator.asScala
        .map(_.getFileName.toString)
        .collect { case s if s.startsWith("v") && s.endsWith(".json") =>
          s.stripPrefix("v").stripSuffix(".json").toInt }
        .toSeq.sorted
    }

  /** Drop every committed table and manifest (the `drop_all_tables` /
    * `drop_database` admin surface, reference client.py:183-187) — the
    * store returns to the just-constructed empty state: `readCurrent()`
    * is None and the next commit starts a fresh lineage.
    */
  def dropAll(): Unit = {
    def deleteTree(p: Path): Unit =
      if (Files.exists(p))
        scala.util.Using.resource(Files.walk(p)) { stream =>
          stream.sorted(java.util.Comparator.reverseOrder())
            .iterator.asScala.foreach(Files.deleteIfExists(_))
        }
    deleteTree(root.resolve("data"))
    deleteTree(manifests)
    Files.createDirectories(manifests)
  }

  private def esc(s: String): String = s.replace("\\", "\\\\").replace("\"", "\\\"")

  /** Inverse of [[esc]]: a left-to-right scan (sequential replace would
    * mis-decode `\\` followed by `"`).
    */
  private def unesc(s: String): String =
    if (!s.contains('\\')) s
    else {
      val b = new StringBuilder(s.length)
      var i = 0
      while (i < s.length) {
        if (s.charAt(i) == '\\' && i + 1 < s.length) { b.append(s.charAt(i + 1)); i += 2 }
        else { b.append(s.charAt(i)); i += 1 }
      }
      b.toString
    }
}

object SnapshotStore {

  private val Sep = ";"

  /** The elements of list `key` in `manifest`; empty when the key is absent. */
  def list(manifest: Map[String, String], key: String): Seq[String] =
    manifest.get(key).map(_.split(Sep).toIndexedSeq.filter(_.nonEmpty)).getOrElse(Nil)

  /** `;`-joined, the encoding every committed manifest already holds. An
    * element containing the separator would come back split — a file
    * name `a;b.csv` never recognised as ingested, a path read as two — so
    * it is rejected rather than written.
    */
  private def joinList(key: String, xs: Seq[String]): String = {
    xs.find(_.contains(Sep)).foreach { x =>
      throw new IllegalArgumentException(
        s"manifest list '$key' cannot hold an element containing '$Sep': $x")
    }
    xs.mkString(Sep)
  }

  /** The parquet tables at `paths` as one frame, or an empty frame of
    * schema `ddl` when there are none (a table nothing has committed yet).
    */
  def read(spark: SparkSession, paths: Seq[String], ddl: String): DataFrame =
    if (paths.nonEmpty) spark.read.parquet(paths: _*)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], StructType.fromDDL(ddl))
}

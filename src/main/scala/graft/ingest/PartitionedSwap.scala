package graft.ingest

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

/** The multi-partition stage-then-swap protocol shared by the index
  * maintainers ([[graft.search.IndexMaintenance]] on `list_id`,
  * [[graft.search.HnswMaintenance]] on `shard_id`). One implementation,
  * parameterized by the partition column — crash-safety code must not
  * fork per index family, or the families drift on exactly the edge
  * cases this protocol has accreted (the live+staging window below).
  *
  * Contract: the caller stages EVERY affected partition under
  * `<path>.update-staging/<col>=<id>`, then [[commit]]s: the manifest
  * (the affected id list) is written only after the staged write is
  * complete, then [[swapAll]] moves each staged dir into place via
  * [[TableSwap.swap]].
  * A crash anywhere rolls FORWARD on the next [[recover]]: with a
  * manifest present the staged data is known complete, so every listed
  * partition is brought to its new contents whether the crash hit
  * before, during, or after that partition's individual swap. Staging
  * and manifest are deleted only after every partition swapped.
  */
object PartitionedSwap {

  def stagingOf(path: String): String = s"$path.update-staging"
  private def manifestOf(path: String): String = s"$path.update-manifest"

  /** Apply an update whose affected partitions `parts` are all staged:
    * materialize every affected staged dir (a pure deletion can stage
    * ZERO rows for a partition, which must still swap in as an empty
    * partition rather than be skipped), THEN declare the update via the
    * manifest — from here [[recover]] rolls the whole partition set
    * forward, never backward — swap each partition in, and delete the
    * manifest and staging only after every partition swapped.
    */
  def commit(path: String, partCol: String, parts: Seq[Int]): Unit = {
    parts.foreach { p =>
      val d = Paths.get(stagingOf(path), s"$partCol=$p")
      if (!Files.exists(d)) Files.createDirectories(d)
    }
    Files.write(Paths.get(manifestOf(path)),
      parts.mkString("\n").getBytes(StandardCharsets.UTF_8))
    swapAll(path, partCol, parts)
    Files.deleteIfExists(Paths.get(manifestOf(path)))
    TableSwap.rmTreeAt(stagingOf(path))
  }

  /** Swap every listed partition whose staged directory is still present
    * (one already consumed means that partition's swap completed earlier
    * — the crash-resume path skips it).
    */
  private def swapAll(path: String, partCol: String, parts: Seq[Int]): Unit = {
    val staging = stagingOf(path)
    parts.foreach { p =>
      val stagedDir = Paths.get(staging, s"$partCol=$p")
      if (Files.exists(stagedDir)) {
        val liveDir = Paths.get(s"$path/$partCol=$p")
        if (!Files.exists(liveDir)) Files.createDirectories(liveDir)
        TableSwap.swap(s"$path/$partCol=$p") { partStaging =>
          Files.move(stagedDir, Paths.get(partStaging))
        }
      }
    }
  }

  /** Directory child names, closing the stream (Files.list leaks an fd
    * per call otherwise).
    */
  private def childNames(dir: Path): Seq[String] = {
    if (!Files.isDirectory(dir)) return Nil
    val s = Files.list(dir)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.map(_.getFileName.toString).toSeq
    } finally s.close()
  }

  /** Heal a crash mid-update. With a manifest present the staged write
    * is known complete (the manifest is written after it), so the
    * interrupted update rolls FORWARD. Without a manifest, only
    * per-partition [[TableSwap]] leftovers of non-manifest operations
    * are healed (roll-back semantics) and stale staging is dropped.
    * Idempotent; returns human-readable action descriptions.
    */
  def recover(path: String, partCol: String): Seq[String] = {
    val root = Paths.get(path)
    if (!Files.exists(root)) return Nil
    val manifest = Paths.get(manifestOf(path))
    val staging = stagingOf(path)

    val forward: Seq[String] = if (Files.exists(manifest)) {
      import scala.jdk.CollectionConverters._
      val parts = Files.readAllLines(manifest).asScala.toSeq
        .filter(_.nonEmpty).map(_.toInt)
      // a partition crashed between "staged dir moved to <part>.staging"
      // and "live moved aside" shows live + .staging together —
      // TableSwap's generic recovery would DROP that staging as stale,
      // but under a manifest the staged data is complete: finish its
      // swap instead
      parts.foreach { p =>
        val part = s"$path/$partCol=$p"
        val (live, stg, old) =
          (Paths.get(part), Paths.get(s"$part.staging"), Paths.get(s"$part.old"))
        if (Files.exists(live) && Files.exists(stg) && !Files.exists(old)) {
          Files.move(live, old)
          Files.move(stg, live)
          TableSwap.rmTreeAt(old.toString)
        } else {
          TableSwap.recoverSwap(part)
          ()
        }
      }
      // swaps not yet begun still have their staged dirs — finish them
      if (Files.isDirectory(Paths.get(staging)))
        swapAll(path, partCol, parts)
      Files.deleteIfExists(manifest)
      Seq(s"rolled forward interrupted ${parts.size}-partition update")
    } else Nil

    // leftovers outside any manifest (historic single-partition swaps)
    val healed = childNames(root)
      .filter(n => n.startsWith(s"$partCol=") &&
        (n.endsWith(".staging") || n.endsWith(".old")))
      .map(n => n.stripSuffix(".staging").stripSuffix(".old"))
      .distinct.sorted
      .flatMap { base =>
        TableSwap.recoverSwap(s"$path/$base").map(a => s"$base: $a")
      }
    TableSwap.rmTreeAt(staging)
    forward ++ healed
  }
}

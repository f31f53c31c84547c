package graft.util

import java.nio.file.{Files, Path, StandardCopyOption}

/** Small local-filesystem helpers shared by the pipeline/streaming commit
  * protocols and the fixture writers (one implementation of recursive
  * delete and tree copy instead of per-caller variants — the atomic-rename
  * commit pattern depends on both behaving identically everywhere).
  *
  * These touch driver-local paths only (commit markers, snapshots, test
  * fixtures) — table DATA always moves through Spark writers.
  */
object Fs {

  /** Recursive delete, deepest-first. No-op when absent. */
  def deleteRec(p: Path): Unit = {
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
      finally walk.close()
    }
  }

  /** Delete a COMMITTED snapshot/table directory safely: remove the named
    * commit-marker files FIRST, then the rest. `deleteRec` walks
    * reverse-lexicographic, which deletes `part-*` data files BEFORE
    * underscore markers — a crash mid-delete would otherwise leave a
    * data-truncated directory whose surviving marker still vouches for
    * it, and a marker-trusting reader (readStage asOf, rollback) would
    * silently serve or restore truncated data. With the marker gone
    * first, any partial leftover is visibly uncommitted and those readers
    * refuse it. */
  def deleteCommitted(p: Path, markers: Seq[String]): Unit = {
    if (Files.exists(p)) {
      markers.foreach(m => Files.deleteIfExists(p.resolve(m)))
      deleteRec(p)
    }
  }

  /** Ids of `<prefix><N>`-named entries directly under `dir`, sorted
    * ascending; empty when `dir` is absent. The shared listing step of
    * the two numbered-commit protocols (stage snapshots, keyed-claims
    * manifests) — one implementation so their listing semantics can
    * never diverge. Non-numeric suffixes on a
    * matching prefix fail loudly: nothing but the protocols' own writers
    * may name entries under these roots. */
  def numberedEntries(dir: Path, prefix: String): Seq[Int] = {
    if (!Files.exists(dir)) Seq.empty
    else {
      val out = Seq.newBuilder[Int]
      val ls = Files.list(dir)
      try ls.forEach { p =>
        val n = p.getFileName.toString
        if (n.startsWith(prefix)) out += n.stripPrefix(prefix).toInt
      } finally ls.close()
      out.result().sorted
    }
  }

  /** Copy a directory tree into `dst` (created fresh), skipping any
    * relative paths in `exclude` — an excluded DIRECTORY excludes its
    * whole subtree (walk visits children with rel "x/child", which a
    * plain set-membership check would miss, silently copying everything
    * under an "excluded" dir). Attributes preserved. */
  def copyTree(src: Path, dst: Path, exclude: Set[String] = Set.empty): Unit = {
    val walk = Files.walk(src)
    try walk.forEach { p =>
      val rel = src.relativize(p).toString
      val excluded = exclude.contains(rel) ||
        exclude.exists(e => rel.startsWith(e + "/"))
      if (!excluded) {
        val to = dst.resolve(rel)
        if (Files.isDirectory(p)) Files.createDirectories(to)
        else {
          Files.createDirectories(to.getParent)
          Files.copy(p, to, StandardCopyOption.COPY_ATTRIBUTES)
        }
      }
    } finally walk.close()
  }
}

package graft.tools

/** The declared-trade registry: the adjudicated table in
  * `bench/adjudicated.md`, parsed as the SINGLE list both measurement gates
  * consult (r12 VERDICT item 8 — previously the adjudications lived in
  * per-round prose and each gate carried its own ad-hoc exclusions, so
  * prose and gate could drift).
  *
  * Every markdown table row of the file is a registry row; a row declares,
  * per query, an optional ×10 warm slope CEILING (`max_warm_slope` —
  * [[SlopeCheck]] swaps its generic growth flag for this bound) and an
  * optional sf0.1 bench band `lo-hi` seconds (`band_sec` — [[BenchDiff]]
  * excludes a cross-round survivor sitting inside it). A blank cell means
  * that gate's default rule applies. Parsing is strict: a file without
  * rows or a malformed row fails loudly, because a silently-empty registry
  * would turn every adjudicated trade back into a red flag (or worse, a
  * gate edit could "fix" a red by breaking the parse). */
object Adjudicated {
  final case class Entry(query: String, maxWarmSlope: Option[Double],
                         bandSec: Option[(Double, Double)], reason: String)

  /** Nearest ancestor of the CWD that looks like the repo root (has
    * build.sbt) — so the gates work when launched from a subdirectory or
    * an sbt fork with a different working dir, instead of hard-failing on
    * a CWD-relative path. */
  def repoRoot(): Option[java.io.File] =
    Iterator.iterate(new java.io.File(".").getCanonicalFile)(_.getParentFile)
      .takeWhile(_ != null).take(8).find(d => new java.io.File(d, "build.sbt").isFile)

  def load(path: String = "bench/adjudicated.md"): Map[String, Entry] = {
    val resolved = {
      val direct = new java.io.File(path)
      if (direct.isFile) direct
      else repoRoot().map(new java.io.File(_, path)).filter(_.isFile).getOrElse(direct)
    }
    val src = scala.io.Source.fromFile(resolved, "UTF-8")
    val lines = try src.getLines().toVector finally src.close()
    val rows = lines.map(_.trim)
      .filter(l => l.startsWith("|") && !l.startsWith("|---"))
      .filterNot(_.toLowerCase.startsWith("| query"))
    require(rows.nonEmpty, s"$path has no adjudicated rows")
    rows.map { l =>
      // limit-4 split: the reason is the LAST cell, so a literal '|' inside
      // it stays part of the reason instead of shifting the columns and
      // silently truncating it.
      val cells = l.stripPrefix("|").stripSuffix("|").split("\\|", 4).map(_.trim)
      require(cells.length >= 4, s"malformed adjudicated row (need 4 cells): $l")
      val query = cells(0).stripPrefix("`").stripSuffix("`")
      require(query.nonEmpty, s"adjudicated row with empty query cell: $l")
      val slope = if (cells(1).isEmpty) None else Some(cells(1).toDouble)
      val band = if (cells(2).isEmpty) None else {
        val parts = cells(2).split("-").map(_.trim)
        require(parts.length == 2, s"band_sec must be lo-hi: $l")
        val (lo, hi) = (parts(0).toDouble, parts(1).toDouble)
        require(lo <= hi, s"band_sec lo > hi: $l")
        Some((lo, hi))
      }
      Entry(query, slope, band, cells(3))
    }.map(e => e.query -> e).toMap
  }
}

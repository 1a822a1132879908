package graft.tools

import com.fasterxml.jackson.databind.ObjectMapper
import scala.jdk.CollectionConverters._

/** The ×10 slope table turned into a GATE: [[ScaleProbe]] measures how each
  * query's cost grows when the corpus grows 10× (slope = t(k×)/(k·t(1×)),
  * ≤1 ≈ linear) and persists the run as `bench/slopes_*.json`; this tool
  * compares a new run against the committed baseline and FAILS (exit 1) on
  * any query whose warm slope grew past the threshold — so "dedup_clusters
  * went quadratic" is a named red check, not a footnote someone has
  * to notice.
  *
  * Usage: runMain graft.tools.SlopeCheck <baseline.json> <latest.json> [growthThreshold]
  *
  * Flag rule: growth = latest.sl_warm / baseline.sl_warm > threshold
  * (default 1.5) AND latest.sl_warm > 0.25. The absolute floor keeps noise
  * out: a slope moving 0.05→0.09 is timer jitter on a query still firmly
  * sub-linear; a slope CROSSING 0.25 while growing 1.5× is an operator
  * whose cost curve actually bent. Both files must come from the same mult
  * and vocab mode — slopes across regimes (closed vs open vocabulary)
  * measure different saturation physics and are not comparable.
  */
object SlopeCheck {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: SlopeCheck <baseline.json> <latest.json> [growthThreshold]")
    val threshold = if (args.length > 2) args(2).toDouble else 1.5
    val om = new ObjectMapper()
    val base = om.readTree(new java.io.File(args(0)))
    val cur = om.readTree(new java.io.File(args(1)))
    require(base.path("mult").asInt == cur.path("mult").asInt &&
            base.path("vocab").asText == cur.path("vocab").asText,
      s"artifacts are from different probe regimes: mult ${base.path("mult")}/${cur.path("mult")}, " +
      s"vocab ${base.path("vocab")}/${cur.path("vocab")}")

    def warmOf(n: com.fasterxml.jackson.databind.JsonNode): Map[String, Double] =
      n.path("slopes").properties().asScala
        .map(e => e.getKey -> e.getValue.path("sl_warm").asDouble).toMap
    val b = warmOf(base)
    val c = warmOf(cur)
    val common = b.keySet.intersect(c.keySet).toSeq.sorted
    require(common.nonEmpty, "no overlapping queries between baseline and latest")

    val missing = (b.keySet -- c.keySet).toSeq.sorted
    if (missing.nonEmpty)
      println(s"[slopecheck] WARN baseline queries not in latest run: ${missing.mkString(",")}")

    // bench/adjudicated.md is the single declared-trade registry: an
    // adjudicated query is judged against ITS OWN declared warm-slope
    // ceiling instead of the generic growth rule (a ceiling, not an
    // exemption — exceeding it still flags), so the table and this gate
    // cannot drift.
    val adjudicated = Adjudicated.load()
    val flags = common.flatMap { q =>
      val growth = c(q) / b(q)
      adjudicated.get(q).flatMap(_.maxWarmSlope) match {
        case Some(ceiling) =>
          if (c(q) > ceiling)
            Some((q, b(q), c(q), growth))
          else {
            if (growth > threshold && c(q) > 0.25)
              println(f"[slopecheck] ADJUDICATED (bench/adjudicated.md): $q%-28s warm=${c(q)}%6.3f <= declared ceiling $ceiling%4.2f")
            None
          }
        case None =>
          if (growth > threshold && c(q) > 0.25) Some((q, b(q), c(q), growth)) else None
      }
    }
    println(f"[slopecheck] compared=${common.size} mult=${base.path("mult").asInt} vocab=${base.path("vocab").asText} threshold=${threshold}x")
    common.foreach { q =>
      println(f"  $q%-28s base=${b(q)}%6.3f latest=${c(q)}%6.3f growth=${c(q) / b(q)}%5.2fx")
    }
    if (flags.isEmpty) println("[slopecheck] SLOPE REGRESSIONS: none")
    else {
      println("[slopecheck] SLOPE REGRESSIONS:")
      flags.sortBy(-_._4).foreach { case (q, bb, cc, g) =>
        println(f"  $q%-28s base=$bb%6.3f latest=$cc%6.3f growth=$g%5.2fx  <-- cost curve bent")
      }
      sys.exit(1)
    }
  }
}

package graft.enrich

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Schema-version translation — the schema processor
  * (`processor/schemaprocessor/transformer.go`, README "Targets
  * Schemas" in `/root/reference`): telemetry published under one
  * schema-family version is converted to a target version by composing
  * the per-version `rename_attributes` sections of the family's schema
  * file, forward for an upgrade and inverted for a downgrade.
  *
  * Spark-first rendering: a revision list (ascending versions, each
  * carrying its attribute renames), applied to a frame as column
  * renames plus `transform_keys` over map-typed attribute columns —
  * pure projections, no shuffle, fully codegen'd.
  */
object SchemaTransform {

  /** One schema-file revision: what changed AT this version (the
    * renames that upgrade FROM the previous version TO this one). */
  final case class Revision(version: String,
                            renameAttributes: Map[String, String] = Map.empty)

  /** Ordered schema family (ascending versions). */
  final case class Family(name: String, revisions: Seq[Revision]) {
    require(revisions.sliding(2).forall {
      case Seq(a, b) => cmp(a.version, b.version) < 0
      case _ => true
    }, "revisions must be in strictly ascending version order")
  }

  /** Numeric-tuple version ordering ("1.10.0" > "1.9.0"). A
    * non-numeric component is a config error reported WITH the
    * offending version string — schema-family URLs end in exactly these
    * strings, so a typo must not surface as a bare
    * NumberFormatException with no context. */
  def versionKey(v: String): Seq[Int] = {
    val parts = v.split("\\.").toSeq.map { p =>
      try p.toInt
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"schema version '$v' has a non-numeric component '$p' " +
          "(expected dotted integers like 1.9.0)")
      }
    }
    parts.padTo(3, 0)
  }

  private def cmp(a: String, b: String): Int = {
    import scala.math.Ordering.Implicits._
    implicitly[Ordering[Seq[Int]]].compare(versionKey(a), versionKey(b))
  }

  /** The rename chain from `fromVersion` to `toVersion`, one entry PER
    * REVISION (ordered): forward renames of every revision in (from, to]
    * for an upgrade, inverted renames of (to, from] in reverse order for
    * a downgrade.
    *
    * The per-revision grouping is load-bearing: within ONE revision the
    * renames are a SIMULTANEOUS mapping (a schema file's
    * rename_attributes is a map — {a→b, b→c} renames a to b, never a to
    * c, and {a→b, b→a} is a swap), while ACROSS revisions renames
    * compose sequentially (r1's a→b then r2's b→c legitimately carries
    * a to c). A flattened fold cannot distinguish the two — the
    * round-4 review found it cascading within a revision (and crashing
    * transform_keys with DUPLICATED_MAP_KEY on the swap case). */
  def renameChain(family: Family, fromVersion: String, toVersion: String): Seq[Seq[(String, String)]] = {
    if (cmp(fromVersion, toVersion) == 0) Nil
    else if (cmp(fromVersion, toVersion) < 0)
      family.revisions
        .filter(r => cmp(r.version, fromVersion) > 0 && cmp(r.version, toVersion) <= 0)
        .map(_.renameAttributes.toSeq)
    else
      family.revisions
        .filter(r => cmp(r.version, toVersion) > 0 && cmp(r.version, fromVersion) <= 0)
        .reverse
        .map(_.renameAttributes.toSeq.map(_.swap))
  }

  /** Translate a frame whose attributes are TOP-LEVEL COLUMNS: each
    * revision is one simultaneous select-with-aliases projection.
    * A rename landing on an EXISTING untouched column OVERWRITES it
    * (the renamed value wins, like a pdata `Remove`+`PutStr`) — keeping
    * both would emit two columns of one name and every later reference
    * would die with an ambiguous-reference AnalysisException. */
  def translate(df: DataFrame, family: Family,
                fromVersion: String, toVersion: String): DataFrame =
    renameChain(family, fromVersion, toVersion).foldLeft(df) { (acc, rev) =>
      val mapping = rev.toMap
      val sources = mapping.keySet
      val present = acc.columns.toSet
      // a rename target collides when it names an existing column that
      // is NOT itself renamed away this revision AND whose overwriting
      // source column exists
      val overwritten = rev.collect {
        case (s, t) if s != t && present(t) && !sources(t) && present(s) => t
      }.toSet
      acc.select(acc.columns.flatMap { c =>
        mapping.get(c) match {
          case Some(to) => Some(col(c).as(to))
          case None if overwritten(c) => None
          case None => Some(col(c))
        }
      }.toIndexedSeq: _*)
    }
}

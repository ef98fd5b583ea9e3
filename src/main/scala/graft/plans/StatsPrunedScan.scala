package graft.plans

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.TableStats.ColStats

/** Data skipping integrated AT THE PLANNER, not at the API: a
  * [[FileIndex]] whose `listFiles` resolves the pushed-down data
  * filters against the generational table's footer-stats sidecar and
  * returns only the files that can match.
  *
  * This is the piece that turns the sidecar from a special-purpose
  * read path (`Maintenance.prunedReadCurrent`, one inclusive range,
  * caller-driven; both paths take the files, the sidecar and the
  * schema from one manifest snapshot and read no footer to plan) into
  * TABLE BEHAVIOR: wrap the scan in a
  * `HadoopFsRelation` over this index and Spark's own
  * `FileSourceStrategy` hands every deterministic predicate the user
  * wrote — `=`, `<`, `BETWEEN`, `IN`, `startsWith`, through `AND`/
  * `OR`, on any statted column, wherever the filter sits in the query
  * (under a join, behind a subquery) — to `listFiles` at planning
  * time. No custom rule, no session extension: the planner already
  * pushes scan filters into the file index; the index just has to be
  * smart about them. Delta's `PrepareDeltaScan` and Iceberg's
  * `SparkScanBuilder` occupy exactly this seam.
  *
  * Soundness over cleverness, three-valued: [[mayMatch]] returns
  * "this file MAY contain a matching row" and prunes only on proof —
  * unknown expression shapes, unstatted columns, missing min/max all
  * keep the file; comparison predicates are null-rejecting, so an
  * all-null file is provably unmatchable while `IS NULL` keeps it.
  * The scan stays authoritative: Spark re-applies the full filter to
  * every surviving row, so a pruning bug can cost I/O, never rows —
  * and the spec cross-checks pruned answers against full scans.
  *
  * Scale shape: `listFiles` is O(files × predicate size) driver work
  * on KB-sized metadata already in memory — the same cost class as
  * the listing Spark does anyway — and saves O(pruned bytes) of
  * executor scan. `lastDecision` records (total, kept) of the most
  * recent planning for observability and the in-query requires.
  */
final class StatsPrunedFileIndex(
    files: Seq[FileStatus],
    stats: Seq[ColStats]) extends FileIndex {

  private val byFileCol: Map[(String, String), ColStats] =
    stats.map(s => ((s.file, s.column), s)).toMap

  /** (filesTotal, filesKept) of the most recent `listFiles` call. */
  @volatile var lastDecision: (Int, Int) = (files.size, files.size)

  override def rootPaths: Seq[Path] =
    files.map(_.getPath.getParent).distinct
  override def partitionSchema: StructType = StructType(Nil)
  override def inputFiles: Array[String] =
    files.map(_.getPath.toString).toArray
  override def refresh(): Unit = ()
  override def sizeInBytes: Long = files.map(_.getLen).sum

  override def listFiles(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val kept = files.filter { f =>
      val p = f.getPath.toString
      dataFilters.forall(e => mayMatch(p, e))
    }
    lastDecision = (files.size, kept.size)
    Seq(PartitionDirectory(InternalRow.empty, kept.toArray))
  }

  private def statsOf(file: String, col: String): Option[ColStats] =
    byFileCol.get((file, col)).filter(_.has_minmax)

  private def allNull(s: ColStats): Boolean = s.null_count == s.n_rows

  /** Literal → the sidecar's comparison domain for `s.typ`. */
  private def lit(s: ColStats, v: Any): Option[Any] = (s.typ, v) match {
    case ("long", n: Number)       => Some(n.longValue())
    case ("double", n: Number)     => Some(n.doubleValue())
    case ("string", u: UTF8String) => Some(u.toString)
    case ("string", str: String)   => Some(str)
    case _                         => None
  }

  private def cmpMay(
      s: ColStats, v: Any,
      may: (Any, Any, Any) => Boolean): Boolean =
    if (allNull(s)) false // comparisons are null-rejecting
    else lit(s, v).fold(true) { lv =>
      (s.typ match {
        case "long"   => for (mn <- s.min_long; mx <- s.max_long)
          yield may(mn, mx, lv)
        case "double" => for (mn <- s.min_double; mx <- s.max_double)
          yield may(mn, mx, lv)
        case "string" => for (mn <- s.min_str; mx <- s.max_str)
          yield may(mn, mx, lv)
        case _        => None
      }).getOrElse(true)
    }

  private def ord(typ: String): Ordering[Any] = (typ match {
    case "long"   => implicitly[Ordering[Long]]
    case "double" => implicitly[Ordering[Double]]
    case _        => implicitly[Ordering[String]]
  }).asInstanceOf[Ordering[Any]]

  /** Three-valued "may this file contain a matching row", collapsed
    * to may/must-not: prune ONLY on proof. */
  private def mayMatch(file: String, e: Expression): Boolean = e match {
    case And(l, r) => mayMatch(file, l) && mayMatch(file, r)
    case Or(l, r)  => mayMatch(file, l) || mayMatch(file, r)
    case EqualTo(a: AttributeReference, Literal(v, _)) => eqMay(file, a.name, v)
    case EqualTo(Literal(v, _), a: AttributeReference) => eqMay(file, a.name, v)
    case In(a: AttributeReference, vs) if vs.forall(_.isInstanceOf[Literal]) =>
      vs.exists { case Literal(v, _) => eqMay(file, a.name, v) }
    case GreaterThan(a: AttributeReference, Literal(v, _)) =>
      rangeMay(file, a.name, v)((mn, mx, lv, o) => o.gt(mx, lv))
    case GreaterThan(Literal(v, _), a: AttributeReference) =>
      rangeMay(file, a.name, v)((mn, mx, lv, o) => o.lt(mn, lv))
    case GreaterThanOrEqual(a: AttributeReference, Literal(v, _)) =>
      rangeMay(file, a.name, v)((mn, mx, lv, o) => o.gteq(mx, lv))
    case GreaterThanOrEqual(Literal(v, _), a: AttributeReference) =>
      rangeMay(file, a.name, v)((mn, mx, lv, o) => o.lteq(mn, lv))
    case LessThan(a: AttributeReference, Literal(v, _)) =>
      rangeMay(file, a.name, v)((mn, mx, lv, o) => o.lt(mn, lv))
    case LessThan(Literal(v, _), a: AttributeReference) =>
      rangeMay(file, a.name, v)((mn, mx, lv, o) => o.gt(mx, lv))
    case LessThanOrEqual(a: AttributeReference, Literal(v, _)) =>
      rangeMay(file, a.name, v)((mn, mx, lv, o) => o.lteq(mn, lv))
    case LessThanOrEqual(Literal(v, _), a: AttributeReference) =>
      rangeMay(file, a.name, v)((mn, mx, lv, o) => o.gteq(mx, lv))
    case StartsWith(a: AttributeReference, Literal(v, _)) =>
      statsOf(file, a.name).forall { s =>
        if (allNull(s)) false // startsWith is null-rejecting
        else if (s.typ != "string") true
        else lit(s, v).fold(true) { lv =>
          val p = lv.asInstanceOf[String]
          // strings with prefix p live in [p, p + U+10FFFF…): may
          // match iff the file's range intersects that band
          (for (mn <- s.min_str; mx <- s.max_str)
            yield mx >= p && mn <= p + "􏿿").getOrElse(true)
        }
      }
    case IsNull(a: AttributeReference) =>
      statsOf(file, a.name).forall(_.null_count > 0)
    case IsNotNull(a: AttributeReference) =>
      statsOf(file, a.name).forall(s => !allNull(s))
    case _ => true // unknown shape: never prune on guesswork
  }

  private def eqMay(file: String, col: String, v: Any): Boolean =
    statsOf(file, col).forall(s =>
      cmpMay(s, v, (mn, mx, lv) => {
        val o = ord(s.typ)
        o.lteq(mn, lv) && o.gteq(mx, lv)
      }))

  private def rangeMay(file: String, col: String, v: Any)(
      may: (Any, Any, Any, Ordering[Any]) => Boolean): Boolean =
    statsOf(file, col).forall(s =>
      cmpMay(s, v, (mn, mx, lv) => may(mn, mx, lv, ord(s.typ))))
}

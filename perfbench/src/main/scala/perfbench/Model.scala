package perfbench

import graft.policy._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** A generated policy store: the policies in insertion order plus the
  * group memberships. The program only ever receives it through
  * [[load]] — the benchmark keeps its own copy to compute the expected
  * decisions.
  */
final case class Store(
    rowFilters: Vector[RowFilterPolicy],
    masks: Vector[DataMaskPolicy],
    denies: Vector[DenyRowPolicy],
    columnDenies: Vector[ColumnDenyPolicy],
    /** user -> groups */
    groups: Map[String, Set[String]]) {

  def size: Int = rowFilters.size + masks.size + denies.size + columnDenies.size

  def load(pm: PolicyManager): Unit = {
    groups.toSeq.sortBy(_._1).foreach { case (u, gs) =>
      gs.toSeq.sorted.foreach(pm.addUserToGroup(u, _))
    }
    rowFilters.foreach(pm.addPolicy)
    masks.foreach(pm.addPolicy)
    denies.foreach(pm.addPolicy)
    columnDenies.foreach(pm.addPolicy)
  }

  /** Remove every policy this store added (the process-wide extension store
    * cannot be replaced, only emptied).
    */
  def unload(pm: PolicyManager): Unit = {
    rowFilters.foreach(pm.removePolicy)
    masks.foreach(pm.removePolicy)
    denies.foreach(pm.removePolicy)
    columnDenies.foreach(pm.removePolicy)
  }

  def ++(o: Store): Store = Store(rowFilters ++ o.rowFilters, masks ++ o.masks,
    denies ++ o.denies, columnDenies ++ o.columnDenies,
    (groups.keySet ++ o.groups.keySet).map(u =>
      u -> (groups.getOrElse(u, Set.empty) ++ o.groups.getOrElse(u, Set.empty))).toMap)

  private def index[P](ps: Vector[P])(table: P => String): Map[String, Vector[(Int, P)]] =
    ps.zipWithIndex.map(_.swap).groupBy { case (_, p) => table(p).toLowerCase }

  private lazy val rfIx = index(rowFilters)(_.tableName)
  private lazy val mkIx = index(masks)(_.tableName)
  private lazy val dnIx = index(denies)(_.tableName)
  private lazy val cdIx = index(columnDenies)(_.tableName)

  /** Policies of one kind that could match `table`: exact name or `*`, in
    * insertion order.
    */
  private def candidates[P](ix: Map[String, Vector[(Int, P)]], table: String): Vector[P] =
    (ix.getOrElse(table.toLowerCase, Vector.empty) ++ ix.getOrElse("*", Vector.empty))
      .sortBy(_._1).map(_._2)

  /** The decision the policy store should reach for (user, table), by the
    * documented semantics: groups and `*` wildcards match, validity windows
    * gate, filters AND in insertion order, a deny overrides every filter,
    * the most specific mask wins (user, table, db, catalog; ties to the
    * first inserted), a column deny fails the query.
    */
  def decide(user: String, cat: String, db: String, table: String,
      columns: Seq[String], now: java.time.Instant): Decision = {
    val gs = groups.getOrElse(user.toLowerCase, Set.empty)
    def principal(p: String): Int =
      if (p.equalsIgnoreCase(user)) 2 else if (gs.contains(p.toLowerCase)) 1
      else if (p == "*") 0 else -1
    def name(p: String, a: String): Int =
      if (p.equalsIgnoreCase(a)) 1 else if (p == "*") 0 else -1
    def live(from: Option[String], until: Option[String]): Boolean =
      from.forall(f => !now.isBefore(java.time.Instant.parse(f))) &&
        until.forall(u => now.isBefore(java.time.Instant.parse(u)))
    def hits(u: String, c: String, d: String, t: String): Boolean =
      principal(u) >= 0 && name(c, cat) >= 0 && name(d, db) >= 0 && name(t, table) >= 0
    val denied = candidates(dnIx, table).exists(p =>
      live(p.validFrom, p.validUntil) && hits(p.username, p.catalogName, p.database, p.tableName))
    val filters = candidates(rfIx, table).collect {
      case p if live(p.validFrom, p.validUntil) &&
        hits(p.username, p.catalogName, p.database, p.tableName) => p.condition
    }
    val deniedCols = candidates(cdIx, table).collect {
      case p if live(p.validFrom, p.validUntil) &&
        hits(p.username, p.catalogName, p.database, p.tableName) => p.columnName.toLowerCase
    }.toSet
    val maskCands = candidates(mkIx, table).filter(p =>
      live(p.validFrom, p.validUntil) && hits(p.username, p.catalogName, p.database, p.tableName))
    val masks = columns.flatMap { c =>
      var best: Option[((Int, Int, Int, Int), String)] = None
      maskCands.foreach { p =>
        if (p.columnName.equalsIgnoreCase(c)) {
          val r = (principal(p.username), name(p.tableName, table),
            name(p.database, db), name(p.catalogName, cat))
          if (best.forall(b => Ordering[(Int, Int, Int, Int)].gt(r, b._1)))
            best = Some((r, p.maskType.toUpperCase))
        }
      }
      best.map(b => c -> b._2)
    }
    Decision(denied, filters, masks, deniedCols)
  }
}

/** Expected policy decision for one (user, table). `masks` is in column
  * order and includes MASK_NONE matches.
  */
final case class Decision(denied: Boolean, filters: Seq[String],
    masks: Seq[(String, String)], deniedColumns: Set[String])

/** Secure-view oracle: each policied table becomes a view written with
  * built-in Spark functions only (never the program's mask functions), so a
  * fault in the rewrite or in a mask kernel shows as a digest mismatch.
  */
object Oracle {
  /** Built-in equivalent of a mask type applied to column `c` of `sqlType`. */
  def maskSql(maskType: String, c: String, sqlType: String): String = maskType match {
    case "MASK" =>
      s"regexp_replace(regexp_replace(regexp_replace($c, '[A-Z]', 'X'), '[a-z]', 'x'), '[0-9]', 'n')"
    case "MASK_SHOW_FIRST_4" =>
      s"concat(substring($c, 1, 4), regexp_replace(substring($c, 5), '[A-Za-z0-9]', 'x'))"
    case "MASK_SHOW_LAST_4" =>
      s"concat(regexp_replace(substring($c, 1, greatest(length($c) - 4, 0)), '[A-Za-z0-9]', 'x'), right($c, 4))"
    case "MASK_HASH" => s"sha2(CAST($c AS BINARY), 256)"
    case "MASK_DATE_SHOW_YEAR" =>
      s"CAST(make_date(year(CAST($c AS DATE)), 1, 1) AS $sqlType)"
    case "MASK_NULL" => s"CAST(NULL AS $sqlType)"
    case "MASK_NONE" => c
    case other => throw new IllegalArgumentException(s"no oracle for mask type $other")
  }

  /** Which rewrite the oracle stands in for. */
  sealed trait Mode
  case object RowFilterOnly extends Mode
  case object MaskOnly extends Mode
  /** Filters over masked values (`mixedRewrite`, extension mode). */
  case object Mixed extends Mode
  /** Filters over raw values, masked output (`mixedRewriteRawFilter`). */
  case object MixedRaw extends Mode

  /** SELECT text of the secure view of `source` (a table with `schema`). */
  def viewSql(source: String, schema: Seq[(String, String)], d: Decision,
      mode: Mode): String = {
    val maskOf = d.masks.toMap
    val masked = schema.map { case (c, t) =>
      val m = maskOf.getOrElse(c, "MASK_NONE")
      if (m == "MASK_NONE") c else s"${maskSql(m, c, t)} AS $c"
    }.mkString(", ")
    val where =
      if (d.denied) Some("false")
      else if (d.filters.isEmpty) None
      else Some(d.filters.map(f => s"($f)").mkString(" AND "))
    def w(cond: Option[String]) = cond.map(c => s" WHERE $c").getOrElse("")
    mode match {
      case RowFilterOnly => s"SELECT * FROM $source${w(where)}"
      case MaskOnly => s"SELECT $masked FROM $source${w(if (d.denied) Some("false") else None)}"
      case Mixed => s"SELECT * FROM (SELECT $masked FROM $source) AS masked${w(where)}"
      case MixedRaw => s"SELECT $masked FROM $source${w(where)}"
    }
  }
}

/** Secure views of the TPC-H tables, written with built-in functions
  * ([[Oracle]]), in their own session with no policy in force.
  */
final class OracleViews(val session: SparkSession, st: Store, tables: Seq[String]) {
  private val made = scala.collection.mutable.Set.empty[String]

  /** View name of `table` for `user` under `m`, created on first use. */
  def view(user: String, table: String, m: Oracle.Mode): String = synchronized {
    val name = s"oracle_${user}_${m.toString.toLowerCase}_$table"
    if (made.add(name)) {
      val d = st.decide(user, Gen.Cat, Gen.Db, table, Data.schemas(table).map(_._1),
        java.time.Instant.now())
      session.sql(s"CREATE OR REPLACE TEMP VIEW $name AS " +
        Oracle.viewSql(table, Data.schemas(table), d, m))
    }
    name
  }

  /** A statement over the user's secure views instead of the tables. */
  def sql(user: String, stmt: (String => String) => String, m: Oracle.Mode): DataFrame =
    session.sql(stmt(t => if (tables.contains(t)) view(user, t, m) else t))
}

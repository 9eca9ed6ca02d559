package perfbench

import graft.policy._
import scala.util.Random

/** Seeded policy stores, principals and statement templates. */
object Gen {
  val Cat = "spark_catalog"
  val Db = "default"

  /** Schema of every synthetic table `syn_NNNN`. */
  val synSchema: Seq[(String, String)] = Seq("id" -> "BIGINT", "name" -> "STRING",
    "email" -> "STRING", "region" -> "STRING", "amount" -> "DOUBLE",
    "created" -> "DATE")

  def synTable(i: Int): String = f"syn_$i%04d"

  def users(n: Int): Seq[String] = (0 until n).map(i => f"u$i%02d")

  /** Every user in group `g<i % groups>`, every third also in one more. */
  def memberships(users: Seq[String], groups: Int): Map[String, Set[String]] =
    users.zipWithIndex.map { case (u, i) =>
      val extra = if (i % 3 == 0) Set(s"g${(i / 3 + 1) % groups}") else Set.empty[String]
      u -> (Set(s"g${i % groups}") ++ extra)
    }.toMap

  type Window = (Option[String], Option[String])
  val Always: Window = (None, None)
  private val windows: Seq[Window] = Seq(
    (Some("2000-01-01T00:00:00Z"), Some("2100-01-01T00:00:00Z")), // live
    (Some("2001-01-01T00:00:00Z"), Some("2002-01-01T00:00:00Z")), // expired
    (Some("2099-01-01T00:00:00Z"), None)) // not yet valid

  private def window(rng: Random): Window =
    if (rng.nextDouble() < 0.2) windows(rng.nextInt(windows.size)) else Always

  private def principal(rng: Random, users: Seq[String], groups: Int): String = {
    val r = rng.nextDouble()
    if (r < 0.70) users(rng.nextInt(users.size))
    else if (r < 0.97) s"g${rng.nextInt(groups)}"
    else "*"
  }

  private def qual(rng: Random): (String, String) = rng.nextInt(40) match {
    case 0 => ("*", Db)
    case 1 => (Cat, "*")
    case _ => (Cat, Db)
  }

  private val stringMasks = Seq("MASK", "MASK_SHOW_FIRST_4", "MASK_SHOW_LAST_4",
    "MASK_HASH", "MASK_NONE")

  /** `perTable` policies for each synthetic table: row filters, masks on
    * every masked-able column, and a few row and column denies. Principals
    * are users, groups or `*`; some policies have validity windows.
    */
  def synStore(rng: Random, tables: Int, users: Seq[String], groups: Int,
      perTable: Int): Store = {
    val rf = Vector.newBuilder[RowFilterPolicy]
    val dm = Vector.newBuilder[DataMaskPolicy]
    val dn = Vector.newBuilder[DenyRowPolicy]
    val cd = Vector.newBuilder[ColumnDenyPolicy]
    (0 until tables).foreach { i =>
      val t = synTable(i)
      (0 until perTable).foreach { _ =>
        val p = principal(rng, users, groups)
        val (c, d) = qual(rng)
        val (from, until) = window(rng)
        rng.nextInt(100) match {
          case k if k < 30 =>
            val cond = rng.nextInt(4) match {
              case 0 => s"region = 'R${rng.nextInt(8)}'"
              case 1 => s"amount > ${rng.nextInt(500)}"
              case 2 => s"id % ${2 + rng.nextInt(5)} = 0"
              case _ => s"name LIKE 'N${rng.nextInt(10)}%'"
            }
            rf += RowFilterPolicy(p, c, d, t, cond, from, until)
          case k if k < 96 =>
            val (col, mask) = rng.nextInt(5) match {
              case 0 => ("name", stringMasks(rng.nextInt(stringMasks.size)))
              case 1 => ("email", stringMasks(rng.nextInt(stringMasks.size)))
              case 2 => ("region", stringMasks(rng.nextInt(stringMasks.size)))
              case 3 => ("created", if (rng.nextBoolean()) "MASK_DATE_SHOW_YEAR" else "MASK_NULL")
              case _ => ("amount", "MASK_NULL")
            }
            dm += DataMaskPolicy(p, c, d, t, col, mask, from, until)
          case k if k < 98 => dn += DenyRowPolicy(p, c, d, t, from, until)
          case _ =>
            // column denies name one user, so that a denial is an exception
            // for that user only
            cd += ColumnDenyPolicy(users(rng.nextInt(users.size)), Cat, Db, t,
              "email", from, until)
        }
      }
    }
    Store(rf.result(), dm.result(), dn.result(), cd.result(), Map.empty)
  }

  /** Policies on the TPC-H tables, shared by the analyst and rewrite
    * workloads: per-user and per-group row filters, wildcard and group masks
    * of every transformer type, one row deny and two column denies.
    */
  def tpchStore(rng: Random, users: Seq[String], groups: Map[String, Set[String]]): Store = {
    def u(i: Int) = users(i % users.size)
    val nation = 10 + rng.nextInt(10)
    Store(
      rowFilters = Vector(
        RowFilterPolicy(u(1), Cat, Db, "customer", s"c_nationkey < $nation"),
        RowFilterPolicy(u(2), Cat, Db, "customer", s"c_nationkey >= ${nation - 8}"),
        RowFilterPolicy("g1", Cat, Db, "customer", "c_mktsegment <> 'HOUSEHOLD'"),
        RowFilterPolicy("g3", Cat, Db, "orders", "o_orderstatus <> 'P'"),
        RowFilterPolicy(u(4), Cat, Db, "orders", s"o_totalprice > ${1000 + rng.nextInt(50000)}"),
        RowFilterPolicy("*", Cat, Db, "lineitem", s"l_quantity <= ${40 + rng.nextInt(8)}")),
      masks = Vector(
        DataMaskPolicy("*", Cat, Db, "customer", "c_phone", "MASK_SHOW_LAST_4"),
        DataMaskPolicy("*", Cat, Db, "customer", "c_address", "MASK"),
        DataMaskPolicy("g2", Cat, Db, "customer", "c_name", "MASK_SHOW_FIRST_4"),
        DataMaskPolicy("g0", Cat, Db, "customer", "c_acctbal", "MASK_NULL"),
        DataMaskPolicy(u(3), Cat, Db, "customer", "c_phone", "MASK_NONE"),
        DataMaskPolicy("*", Cat, Db, "orders", "o_clerk", "MASK_HASH"),
        DataMaskPolicy("g1", Cat, Db, "orders", "o_orderdate", "MASK_DATE_SHOW_YEAR"),
        DataMaskPolicy("g1", Cat, Db, "lineitem", "l_comment", "MASK"),
        DataMaskPolicy("*", Cat, Db, "lineitem", "l_shipmode", "MASK_SHOW_FIRST_4")),
      denies = Vector(DenyRowPolicy(u(7), Cat, Db, "lineitem")),
      columnDenies = Vector(
        ColumnDenyPolicy(u(5), Cat, Db, "customer", "c_phone"),
        ColumnDenyPolicy(u(6), Cat, Db, "customer", "c_phone")),
      groups = groups)
  }

  /** Users whose column deny on customer.c_phone the TPC-H store sets. */
  def phoneDenied(users: Seq[String]): Seq[String] = Seq(users(5), users(6))
}

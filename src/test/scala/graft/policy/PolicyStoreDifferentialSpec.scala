package graft.policy

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Try

/** [[PolicyManager]] against [[LinearPolicyManager]], the linear store it
  * replaced, on random stores: wildcards, groups, mixed-case identifiers,
  * duplicate policies, removals (present, absent and case-variant), and
  * validity windows around a pinned clock, boundaries included. Every
  * lookup, every removal's return value and the exported JSON text must be
  * equal. Fixed seed, so a failure reproduces.
  */
class PolicyStoreDifferentialSpec extends AnyFunSuite {
  import PolicyStoreDifferentialSpec._

  test("the folded store decides, removes and exports exactly like the linear reference") {
    val params = Test.Parameters.default
      .withMinSuccessfulTests(500)
      .withInitialSeed(Seed(20261018L))
      .withWorkers(1)
    val result = Test.check(params, Prop.forAllNoShrink(scenario)(agrees))
    assert(result.passed, result.status)
    assert(result.succeeded >= 500)
  }
}

object PolicyStoreDifferentialSpec {
  private val Now = java.time.Instant.parse("2026-06-15T12:00:00Z")

  sealed trait Op
  final case class Add(p: TablePolicy) extends Op
  final case class Remove(p: TablePolicy) extends Op
  final case class JoinGroup(user: String, group: String) extends Op
  final case class LeaveGroup(user: String, group: String) extends Op

  final case class Query(user: String, catalog: String, db: String, table: String,
      column: String)
  final case class Scenario(ops: Seq[Op], queries: Seq[Query])

  private val principals = Gen.oneOf("alice", "ALICE", "bob", "analysts", "Ops", "*")
  private val catalogs = Gen.oneOf("hive", "HIVE", "spark_catalog", "*")
  private val databases = Gen.oneOf("default", "Default", "sales", "*")
  private val tables = Gen.oneOf("orders", "Orders", "customer", "*")
  private val columns = Gen.oneOf("c1", "C1", "c2")
  private val conditions = Gen.oneOf("x = 1", "X = 1", "region = 'beijing'")
  private val maskTypes = Gen.oneOf("MASK", "mask_hash", "MASK_NULL", "MASK_NONE",
    "MASK_SHOW_LAST_4", "NOT_REGISTERED")
  // instants on both sides of the pinned clock and exactly on it
  private val from = Gen.oneOf(None, Some("2026-01-01T00:00:00Z"),
    Some("2026-06-15T12:00:00Z"), Some("2027-01-01T00:00:00Z"))
  private val until = Gen.oneOf(None, Some("2026-01-01T00:00:00Z"),
    Some("2026-06-15T12:00:00Z"), Some("2027-01-01T00:00:00Z"))

  private val policy: Gen[TablePolicy] = for {
    kind <- Gen.choose(0, 3)
    u <- principals; c <- catalogs; d <- databases; t <- tables
    col <- columns; cond <- conditions; mt <- maskTypes; f <- from; un <- until
  } yield kind match {
    case 0 => RowFilterPolicy(u, c, d, t, cond, f, un)
    case 1 => DataMaskPolicy(u, c, d, t, col, mt, f, un)
    case 2 => DenyRowPolicy(u, c, d, t, f, un)
    case _ => ColumnDenyPolicy(u, c, d, t, col, f, un)
  }

  /** `p` with its principal and table name upper-cased: the same policy to
    * a case-insensitive removal.
    */
  private def upper(p: TablePolicy): TablePolicy = p match {
    case r: RowFilterPolicy => r.copy(username = r.username.toUpperCase, tableName = r.tableName.toUpperCase)
    case m: DataMaskPolicy => m.copy(username = m.username.toUpperCase, tableName = m.tableName.toUpperCase)
    case d: DenyRowPolicy => d.copy(username = d.username.toUpperCase, tableName = d.tableName.toUpperCase)
    case c: ColumnDenyPolicy => c.copy(username = c.username.toUpperCase, tableName = c.tableName.toUpperCase)
  }

  // ops draw from a small pool, so duplicates and removals of present
  // policies are common
  private val scenario: Gen[Scenario] = for {
    pool <- Gen.choose(1, 8).flatMap(Gen.listOfN(_, policy))
    op = Gen.frequency(
      6 -> Gen.oneOf(pool).map(Add(_)),
      2 -> Gen.oneOf(pool).map(Remove(_)),
      1 -> Gen.oneOf(pool).map(p => Remove(upper(p))),
      1 -> policy.map(Remove(_)),
      2 -> Gen.zip(Gen.oneOf("alice", "Bob", "carol"), Gen.oneOf("analysts", "ops"))
        .map { case (u, g) => JoinGroup(u, g) },
      1 -> Gen.zip(Gen.oneOf("alice", "bob"), Gen.oneOf("Analysts", "ops"))
        .map { case (u, g) => LeaveGroup(u, g) })
    ops <- Gen.choose(0, 24).flatMap(Gen.listOfN(_, op))
    query = for {
      u <- Gen.oneOf("alice", "Alice", "bob", "carol", "dave")
      c <- Gen.oneOf("hive", "spark_catalog"); d <- Gen.oneOf("default", "sales")
      t <- Gen.oneOf("orders", "ORDERS", "customer"); col <- columns
    } yield Query(u, c, d, t, col)
    queries <- Gen.listOfN(40, query)
  } yield Scenario(ops, queries)

  /** An outcome both stores can be compared on: the value, or the failure's
    * class and message.
    */
  private def outcome[A](a: => A): Either[(String, String), A] =
    Try(a).toEither.left.map(e => (e.getClass.getName, e.getMessage))

  private def agrees(s: Scenario): Prop = {
    val store = new PolicyManager
    val ref = new LinearPolicyManager
    store.clock = () => Now
    ref.clock = () => Now
    val removals = s.ops.map {
      case Add(p) =>
        store.addPolicy(p)
        p match {
          case r: RowFilterPolicy => ref.addPolicy(r)
          case m: DataMaskPolicy => ref.addPolicy(m)
          case d: DenyRowPolicy => ref.addPolicy(d)
          case c: ColumnDenyPolicy => ref.addPolicy(c)
        }
        None
      case Remove(p) =>
        val expected = p match {
          case r: RowFilterPolicy => ref.removePolicy(r)
          case m: DataMaskPolicy => ref.removePolicy(m)
          case d: DenyRowPolicy => ref.removePolicy(d)
          case c: ColumnDenyPolicy => ref.removePolicy(c)
        }
        Some((p, store.removePolicy(p), expected))
      case JoinGroup(u, g) =>
        store.addUserToGroup(u, g); ref.addUserToGroup(u, g); None
      case LeaveGroup(u, g) =>
        store.removeUserFromGroup(u, g); ref.removeUserFromGroup(u, g); None
    }.flatten
    val removalsAgree = removals.forall { case (_, got, expected) => got == expected }
    val lookupsDisagree = s.queries.filterNot { q =>
      import q._
      outcome(store.isDenied(user, catalog, db, table)) ==
        outcome(ref.isDenied(user, catalog, db, table)) &&
        outcome(store.rowFilterConditions(user, catalog, db, table)) ==
          outcome(ref.rowFilterConditions(user, catalog, db, table)) &&
        outcome(store.hasDataMask(user, catalog, db, table)) ==
          outcome(ref.hasDataMask(user, catalog, db, table)) &&
        outcome(store.dataMaskType(user, catalog, db, table, column)) ==
          outcome(ref.dataMaskType(user, catalog, db, table, column)) &&
        outcome(store.deniedColumns(user, catalog, db, table)) ==
          outcome(ref.deniedColumns(user, catalog, db, table))
    }
    val exported = store.exportJson()
    val reimported = new PolicyManager
    val refReimported = new LinearPolicyManager
    reimported.importJson(exported)
    refReimported.importJson(exported)
    (removalsAgree :| s"removal results differ: $removals") &&
      (lookupsDisagree.isEmpty :| s"lookups differ for $lookupsDisagree") &&
      ((exported == ref.exportJson()) :| s"export differs: $exported vs ${ref.exportJson()}") &&
      ((reimported.exportJson() == refReimported.exportJson()) :| "imports differ") &&
      ((store.rowFilterPolicies, store.dataMaskPolicies, store.denyPolicies,
        store.columnDenyPolicies) == (ref.rowFilterPolicies, ref.dataMaskPolicies,
        ref.denyPolicies, ref.columnDenyPolicies)) :| "per-kind listings differ"
  }
}

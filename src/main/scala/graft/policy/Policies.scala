package graft.policy

/** Policy model for the security layer.
  *
  * Mirrors the reference's policy abstractions (see
  * /root/reference/src/main/java/com/hw/security/flink/policy/RowFilterPolicy.java:30-41
  * and DataMaskPolicy.java:30-43) as plain Scala case classes. Identifiers are
  * matched case-insensitively, like Calcite/Spark's default resolver.
  */
/** What every policy kind is scoped by: a principal (user, group or `*`),
  * a catalog.db.table whose parts may each be `*`, and a validity window.
  */
sealed trait TablePolicy extends Product {
  def username: String
  def catalogName: String
  def database: String
  def tableName: String
  def validFrom: Option[String]
  def validUntil: Option[String]
}

final case class RowFilterPolicy(
    username: String,
    catalogName: String,
    database: String,
    tableName: String,
    /** SQL boolean expression AND-ed into every scan of the table. */
    condition: String,
    /** Validity window (Ranger policy schedules): ISO-8601 UTC instants,
      * inclusive start / exclusive end. None = unbounded on that side. A
      * policy outside its window matches nothing; malformed instants fail
      * loudly at lookup (never silently inactive).
      */
    validFrom: Option[String] = None,
    validUntil: Option[String] = None
) extends TablePolicy

final case class DataMaskPolicy(
    username: String,
    catalogName: String,
    database: String,
    tableName: String,
    columnName: String,
    /** Name of a [[DataMaskType]], e.g. "MASK_SHOW_FIRST_4". */
    maskType: String,
    /** Validity window — see [[RowFilterPolicy.validFrom]]. */
    validFrom: Option[String] = None,
    validUntil: Option[String] = None
) extends TablePolicy

/** Ranger-style DENY: while active, the principal reads ZERO rows of the
  * table, regardless of any row-filter policy that would otherwise allow
  * rows — deny OVERRIDES allow at every specificity (a wildcard deny beats
  * an exact-user filter; Ranger's evaluation order, and the fail-closed
  * resolution of any deny/allow overlap). Enforced through the row-filter
  * rewrite as the condition `false`, so it applies everywhere row filters
  * do: plain scans, joins, subqueries, views, embedded V1 commands and the
  * auto-enforcement extension.
  */
final case class DenyRowPolicy(
    username: String,
    catalogName: String,
    database: String,
    tableName: String,
    /** Validity window — see [[RowFilterPolicy.validFrom]]. */
    validFrom: Option[String] = None,
    validUntil: Option[String] = None
) extends TablePolicy

/** Ranger-style COLUMN deny: while active, the principal may not READ the
  * column at all — a query that references it (including via `SELECT *`
  * expansion) fails CLOSED at analysis time with an error, never a silent
  * null or a mask ([[graft.ColumnAccessDeniedException]]). Deny beats every
  * allow and every mask at any specificity: a masked read of a denied
  * column is still a read. A query touching only the table's other columns
  * is unaffected — that is the distinction from [[DenyRowPolicy]], which
  * zeroes the whole table.
  */
final case class ColumnDenyPolicy(
    username: String,
    catalogName: String,
    database: String,
    tableName: String,
    columnName: String,
    /** Validity window — see [[RowFilterPolicy.validFrom]]. */
    validFrom: Option[String] = None,
    validUntil: Option[String] = None
) extends TablePolicy

/** A named masking strategy with a transformer template in which `{col}` is
  * substituted with the column name (reference: enums/DataMaskType.java:30-43,
  * resources/data_mask_types.json). `transformer == None` covers MASK_NULL /
  * MASK_NONE / CUSTOM, which the reference would NPE on
  * (DataMaskVisitor.java:97-98) — we handle them explicitly.
  */
final case class DataMaskType(
    itemId: Int,
    name: String,
    label: String,
    description: String,
    transformer: Option[String]
) {
  def transformerFor(column: String): Option[String] =
    transformer.map(_.replace("{col}", column))
}

object DataMaskType {
  /** Load a mask-type registry from a classpath JSON resource (mirrors the
    * reference's PolicyManager.java:41-58 loading data_mask_types.json);
    * parsed with json4s, which ships in the Spark jars.
    */
  def loadResource(resource: String = "/graft_mask_types.json"): Seq[DataMaskType] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val stream = getClass.getResourceAsStream(resource)
    require(stream != null, s"mask-type resource $resource not found on classpath")
    val src = scala.io.Source.fromInputStream(stream, "UTF-8")
    val json = try JsonMethods.parse(src.mkString) finally src.close()
    for (JObject(fields) <- json.asInstanceOf[JArray].arr.map(_.asInstanceOf[JObject]))
      yield {
        val m = fields.toMap
        DataMaskType(
          itemId = m("itemId") match { case JInt(i) => i.toInt; case _ => -1 },
          name = m("name") match { case JString(s) => s; case _ => "" },
          label = m.get("label").collect { case JString(s) => s }.getOrElse(""),
          description = m.get("description").collect { case JString(s) => s }.getOrElse(""),
          transformer = m.get("transformer").collect { case JString(s) => s })
      }
  }

  /** Built-in registry (same entries as the JSON resource, authored in code
    * so the library works without resource loading). The transformer strings
    * are SQL calls into the mask function family registered by
    * [[graft.functions.MaskFunctions]].
    */
  val builtin: Seq[DataMaskType] = Seq(
    DataMaskType(1, "MASK", "Redact",
      "Replace lowercase with 'x', uppercase with 'X', digits with 'n'",
      Some("mask({col})")),
    DataMaskType(2, "MASK_SHOW_LAST_4", "Partial mask: show last 4",
      "Show last 4 characters; mask the rest with 'x'",
      Some("mask_show_last_n({col}, 4, 'x', 'x', 'x', -1, '1')")),
    DataMaskType(3, "MASK_SHOW_FIRST_4", "Partial mask: show first 4",
      "Show first 4 characters; mask the rest with 'x'",
      Some("mask_show_first_n({col}, 4, 'x', 'x', 'x', -1, '1')")),
    DataMaskType(4, "MASK_HASH", "Hash",
      "Replace the value with its sha256 hex digest",
      Some("mask_hash({col})")),
    DataMaskType(5, "MASK_NULL", "Nullify",
      "Replace the value with NULL", None),
    DataMaskType(6, "MASK_NONE", "Unmasked (retain original value)",
      "No masking", None),
    DataMaskType(12, "MASK_DATE_SHOW_YEAR", "Date: show only year",
      "Keep the year; day -> 1, month -> January",
      Some("mask({col}, 'x', 'x', 'x', -1, '1', 1, 0, -1)")),
    DataMaskType(13, "CUSTOM", "Custom", "User-supplied transformer", None)
  )
}

/** In-memory policy store with the same lookup semantics as the reference's
  * PolicyManager (PolicyManager.java:61-113): linear scan, exact
  * (case-insensitive) match on user + catalog + db + table (+ column) —
  * extended toward the Ranger model the reference's own comment names as
  * intent (PolicyManager.java:35):
  *
  *  - USER GROUPS: a policy's `username` may name a registered group
  *    ([[addUserToGroup]]); it then applies to every member. A group name
  *    that collides with a literal username applies to both — register
  *    distinct names (Ranger separates the lists; the single-field model
  *    keeps the reference's policy classes unchanged).
  *  - WILDCARDS: `"*"` in `username`, `catalogName`, `database` or
  *    `tableName` matches anything (each field independently).
  *  - PRECEDENCE (masks only): the MOST SPECIFIC matching mask policy wins —
  *    exact user beats group beats `*`, then exact table beats `*`, then
  *    exact db, then exact catalog; ties fall to insertion order. Row
  *    filters need no precedence: every matching condition is AND-ed
  *    (additive restriction is fail-closed by construction — a wildcard
  *    filter can only narrow what a specific filter allows).
  *  - DENY ([[DenyRowPolicy]]): overrides allow at EVERY specificity — a
  *    wildcard deny beats an exact-user row filter (Ranger's evaluation
  *    order; any deny/allow overlap resolves fail-closed to deny). Injected
  *    as row-filter condition `false`.
  *  - VALIDITY WINDOWS: every policy may carry `[validFrom, validUntil)`
  *    ISO-instant bounds (Ranger policy schedules); an out-of-window policy
  *    matches nothing, a malformed instant fails loudly. `clock` is
  *    injectable for deterministic tests.
  *
  * Thread-safe. Lookups run on the driver during plan rewrite, never per
  * row, but each one scans every stored policy: a rewrite's lookup cost is
  * linear in the GLOBAL policy count, not in the policies that apply to the
  * user (ROADMAP item 2 measures it and plans the index).
  */
final class PolicyManager {
  import PolicyManager._
  import scala.collection.mutable.ArrayBuffer
  import scala.reflect.ClassTag

  /** Every policy of every kind, in insertion order. */
  private val policies = ArrayBuffer.empty[TablePolicy]
  private val maskTypes = ArrayBuffer.from(DataMaskType.builtin)

  /** Clock for validity-window evaluation — injectable so tests and oracled
    * queries can pin "now"; production leaves the default. Evaluated once
    * per lookup (plan-rewrite time, driver-side — never per row).
    */
  @volatile var clock: () => java.time.Instant = () => java.time.Instant.now()

  /** group name (lowercase) -> member usernames (lowercase) */
  private val groupMembers =
    scala.collection.mutable.Map.empty[String, scala.collection.mutable.Set[String]]

  private def same(a: String, b: String): Boolean = a.equalsIgnoreCase(b)

  def addUserToGroup(user: String, group: String): Unit = synchronized {
    require(group != "*", "'*' is the wildcard principal, not a group name")
    groupMembers.getOrElseUpdate(group.toLowerCase, scala.collection.mutable.Set.empty) +=
      user.toLowerCase
    ()
  }
  def removeUserFromGroup(user: String, group: String): Unit = synchronized {
    groupMembers.get(group.toLowerCase).foreach(_ -= user.toLowerCase)
  }
  def groupsOf(user: String): Set[String] = synchronized {
    groupMembers.collect {
      case (g, members) if members.contains(user.toLowerCase) => g
    }.toSet
  }

  /** One lookup of (user, catalog.db.table): the user's groups and "now"
    * are resolved once, not per policy. Callers hold the monitor.
    */
  private final class Lookup(user: String, catalog: String, db: String, table: String) {
    private val groups = groupsOf(user)
    private val now = clock()

    private def nameRank(policyName: String, actual: String): Int =
      if (same(policyName, actual)) 1 else if (policyName == "*") 0 else -1

    /** The in-window policies of kind `P` that apply, lazily and in
      * insertion order, each with its specificity (principal, table, db,
      * catalog): a principal ranks 2 exact, 1 via group, 0 wildcard; a name
      * 1 exact, 0 wildcard. Each visited policy's window is read first, so
      * a malformed instant throws — a policy whose window cannot be read
      * must never silently deactivate.
      */
    def of[P <: TablePolicy : ClassTag]: Iterator[(P, (Int, Int, Int, Int))] =
      policies.iterator.collect { case p: P => p }.flatMap { p =>
        val active =
          p.validFrom.forall(f => !now.isBefore(java.time.Instant.parse(f))) &&
            p.validUntil.forall(u => now.isBefore(java.time.Instant.parse(u)))
        val rank = (
          if (same(p.username, user)) 2
          else if (groups.contains(p.username.toLowerCase)) 1
          else if (p.username == "*") 0
          else -1,
          nameRank(p.tableName, table), nameRank(p.database, db),
          nameRank(p.catalogName, catalog))
        if (active && rank._1 >= 0 && rank._2 >= 0 && rank._3 >= 0 && rank._4 >= 0)
          Some((p, rank))
        else None
      }
  }

  def addPolicy(p: TablePolicy): Boolean = synchronized { policies += p; true }
  // Removal matches with the same case-insensitive comparison as the lookups
  // (rowFilterConditions/dataMaskType): a policy added as ('Analyst', 'CUSTOMER',
  // ...) enforces case-insensitively, so it must be removable that way too.
  // A row filter's condition is SQL text and compares exactly. Validity
  // windows are part of the identity: a renewal flow holds two policies
  // identical except for [validFrom, validUntil), and removal must delete
  // the one named, not whichever was inserted first.
  def removePolicy(p: TablePolicy): Boolean = synchronized {
    val i = policies.indexWhere(q => q.getClass == p.getClass &&
      p.productElementNames.zip(p.productIterator.zip(q.productIterator)).forall {
        case (field, (a: String, b: String)) if field != "condition" => same(a, b)
        case (_, (a, b)) => a == b
      })
    if (i >= 0) { policies.remove(i); true } else false
  }
  def registerMaskType(t: DataMaskType): Unit = synchronized { maskTypes += t }

  private def ofKind[P <: TablePolicy : ClassTag]: Seq[P] =
    synchronized(policies.collect { case p: P => p }.toSeq)
  def rowFilterPolicies: Seq[RowFilterPolicy] = ofKind[RowFilterPolicy]
  def dataMaskPolicies: Seq[DataMaskPolicy] = ofKind[DataMaskPolicy]
  def denyPolicies: Seq[DenyRowPolicy] = ofKind[DenyRowPolicy]
  def columnDenyPolicies: Seq[ColumnDenyPolicy] = ofKind[ColumnDenyPolicy]

  /** Column names with an ACTIVE column deny for (user, table), at any
    * specificity — the rewrite entry points fail a query referencing any of
    * them ([[graft.SecurityContext]]); deny beats allow AND mask, so this
    * is checked before either rewrite runs. Names are as the policies
    * state them; callers match case-insensitively like every lookup here.
    */
  def deniedColumns(user: String, catalog: String, db: String,
      table: String): Seq[String] = synchronized {
    new Lookup(user, catalog, db, table).of[ColumnDenyPolicy]
      .map(_._1.columnName).toSeq.distinct
  }

  /** True when an ACTIVE deny matches (user, table) at any specificity —
    * deny overrides allow, so callers must check this before honoring any
    * row-filter condition.
    */
  def isDenied(user: String, catalog: String, db: String,
      table: String): Boolean = synchronized {
    new Lookup(user, catalog, db, table).of[DenyRowPolicy].hasNext
  }

  /** All AND-able conditions for (user, table); reference keeps at most one
    * but nothing stops multiple policies matching — we AND them all.
    * Group-scoped and wildcard policies contribute alongside user-exact ones
    * (additive restriction — no precedence needed, AND is fail-closed).
    */
  def rowFilterConditions(user: String, catalog: String, db: String,
      table: String): Seq[String] = synchronized {
    // deny overrides allow: when an active deny matches, the scan's
    // condition is `false` FULL STOP — matching allow-filters are discarded
    // rather than AND-ed so the injected predicate (and its audit row)
    // reads as the deny decision, not an accidental conjunction
    val lookup = new Lookup(user, catalog, db, table)
    if (lookup.of[DenyRowPolicy].hasNext) Seq("false")
    else lookup.of[RowFilterPolicy].map(_._1.condition).toSeq
  }

  def dataMaskType(user: String, catalog: String, db: String, table: String,
      column: String): Option[DataMaskType] = synchronized {
    // most-specific-wins: rank (user, table, db, catalog) lexicographically;
    // maxByOption keeps the first of equal ranks, i.e. insertion order on
    // full ties. The column itself is never a wildcard — masking is a
    // per-column decision.
    new Lookup(user, catalog, db, table).of[DataMaskPolicy]
      .filter(m => same(m._1.columnName, column)).toSeq
      .maxByOption(_._2).map { case (p, _) =>
        // fail closed: a policy naming an unregistered mask type must never
        // degrade to passthrough — that would silently expose the column
        getMaskType(p.maskType).getOrElse(throw new IllegalStateException(
          s"mask policy on $catalog.$db.$table.$column references unregistered mask type '${p.maskType}'"))
      }
  }

  /** Any mask policy (user-exact, group or wildcard) on any column of the
    * table, for `user` — the rules' cheap "does this table need the mask
    * pass at all" probe, same matching as [[dataMaskType]].
    */
  def hasDataMask(user: String, catalog: String, db: String,
      table: String): Boolean = synchronized {
    new Lookup(user, catalog, db, table).of[DataMaskPolicy].hasNext
  }

  def getMaskType(name: String): Option[DataMaskType] = synchronized {
    maskTypes.find(t => same(t.name, name))
  }

  /** Export every policy as one JSON document — the admin-tooling round trip
    * a Ranger-style external policy service would use.
    */
  def exportJson(): String = synchronized {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    // a policy's fields in declaration order; an unset window is omitted
    def fields(p: TablePolicy): JValue =
      JObject(p.productElementNames.zip(p.productIterator).collect {
        case (name, s: String) => name -> JString(s)
        case (name, Some(s: String)) => name -> JString(s)
      }.toList)
    val groups = JArray(groupMembers.toList.sortBy(_._1).map { case (g, members) =>
      JObject("name" -> JString(g), "members" -> JArray(members.toList.sorted.map(JString(_))))
    })
    JsonMethods.compact(JsonMethods.render(JObject(kinds.map { k =>
      k.key -> JArray(policies.filter(k.cls.isInstance).map(fields).toList)
    }.toList :+ ("groups" -> groups))))
  }

  /** Load policies from [[exportJson]] output, appending to the store.
    * Unknown fields are ignored; missing required fields fail loudly.
    */
  def importJson(json: String): Unit = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val root = JsonMethods.parse(json)
    def str(v: JValue, field: String): String = v \ field match {
      case JString(s) => s
      case _ => throw new IllegalArgumentException(s"policy JSON missing field '$field'")
    }
    def optStr(v: JValue, field: String): Option[String] = v \ field match {
      case JString(s) => Some(s)
      case _ => None
    }
    val imported = kinds.flatMap { k =>
      root \ k.key match {
        case JArray(items) => items.map(v => k.read(str(v, _), optStr(v, _)))
        case JNothing => Nil
        case other => throw new IllegalArgumentException(s"${k.key} must be an array, got $other")
      }
    }
    val grps = (root \ "groups") match {
      case JArray(items) => items.map { v =>
        val members = v \ "members" match {
          case JArray(ms) => ms.collect { case JString(m) => m }
          case _ => Nil
        }
        str(v, "name") -> members
      }
      case _ => Nil
    }
    synchronized { policies ++= imported }
    grps.foreach { case (g, members) => members.foreach(addUserToGroup(_, g)) }
  }
}

object PolicyManager {
  /** A policy kind's JSON array name, class and reader (from required and
    * optional field accessors), in export order.
    */
  private final case class Kind(key: String, cls: Class[_ <: TablePolicy],
      read: (String => String, String => Option[String]) => TablePolicy)

  private val kinds = Seq(
    Kind("rowFilters", classOf[RowFilterPolicy], (s, o) => RowFilterPolicy(
      s("username"), s("catalogName"), s("database"), s("tableName"),
      s("condition"), o("validFrom"), o("validUntil"))),
    Kind("dataMasks", classOf[DataMaskPolicy], (s, o) => DataMaskPolicy(
      s("username"), s("catalogName"), s("database"), s("tableName"),
      s("columnName"), s("maskType"), o("validFrom"), o("validUntil"))),
    Kind("denies", classOf[DenyRowPolicy], (s, o) => DenyRowPolicy(
      s("username"), s("catalogName"), s("database"), s("tableName"),
      o("validFrom"), o("validUntil"))),
    Kind("columnDenies", classOf[ColumnDenyPolicy], (s, o) => ColumnDenyPolicy(
      s("username"), s("catalogName"), s("database"), s("tableName"),
      s("columnName"), o("validFrom"), o("validUntil"))))
}

package graft.policy

/** The linear-scan policy store as it stood before the store was folded
  * into one generic path: four per-kind buffers, four add/remove pairs,
  * and a per-policy `clock()` and group resolution. Kept unchanged, in test
  * scope only, as the reference the differential spec compares
  * [[PolicyManager]] against.
  */
final class LinearPolicyManager {
  import scala.collection.mutable.ArrayBuffer

  private val rowFilters = ArrayBuffer.empty[RowFilterPolicy]
  private val dataMasks = ArrayBuffer.empty[DataMaskPolicy]
  private val denies = ArrayBuffer.empty[DenyRowPolicy]
  private val colDenies = ArrayBuffer.empty[ColumnDenyPolicy]
  private val maskTypes = ArrayBuffer.from(DataMaskType.builtin)

  /** Clock for validity-window evaluation — injectable so tests and oracled
    * queries can pin "now"; production leaves the default. Evaluated once
    * per lookup (plan-rewrite time, driver-side — never per row).
    */
  @volatile var clock: () => java.time.Instant = () => java.time.Instant.now()

  /** [validFrom, validUntil) against [[clock]]; malformed instants throw —
    * a policy whose window cannot be read must never silently deactivate.
    */
  private def inWindow(validFrom: Option[String], validUntil: Option[String]): Boolean = {
    val now = clock()
    validFrom.forall(f => !now.isBefore(java.time.Instant.parse(f))) &&
      validUntil.forall(u => now.isBefore(java.time.Instant.parse(u)))
  }
  /** group name (lowercase) -> member usernames (lowercase) */
  private val groupMembers =
    scala.collection.mutable.Map.empty[String, scala.collection.mutable.Set[String]]

  private def eq(a: String, b: String): Boolean = a.equalsIgnoreCase(b)

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

  /** Specificity of a policy principal for `user`: 2 exact, 1 via group, 0
    * wildcard, -1 no match.
    */
  private def principalRank(policyUser: String, user: String): Int =
    if (eq(policyUser, user)) 2
    else if (groupsOf(user).contains(policyUser.toLowerCase)) 1
    else if (policyUser == "*") 0
    else -1

  /** Specificity of a name field: 1 exact, 0 wildcard, -1 no match. */
  private def nameRank(policyName: String, actual: String): Int =
    if (eq(policyName, actual)) 1 else if (policyName == "*") 0 else -1

  def addPolicy(p: RowFilterPolicy): Boolean = synchronized { rowFilters += p; true }
  // Removal matches with the same case-insensitive comparison as the lookups
  // (rowFilterConditions/dataMaskType): a policy added as ('Analyst', 'CUSTOMER',
  // ...) enforces case-insensitively, so it must be removable that way too.
  // Validity windows are part of the identity: a renewal flow holds two
  // policies identical except for [validFrom, validUntil), and removal must
  // delete the one named, not whichever was inserted first.
  def removePolicy(p: RowFilterPolicy): Boolean = synchronized {
    val i = rowFilters.indexWhere(q =>
      eq(q.username, p.username) && eq(q.catalogName, p.catalogName) &&
        eq(q.database, p.database) && eq(q.tableName, p.tableName) &&
        q.condition == p.condition &&
        q.validFrom == p.validFrom && q.validUntil == p.validUntil)
    if (i >= 0) { rowFilters.remove(i); true } else false
  }
  def addPolicy(p: DataMaskPolicy): Boolean = synchronized { dataMasks += p; true }
  def removePolicy(p: DataMaskPolicy): Boolean = synchronized {
    val i = dataMasks.indexWhere(q =>
      eq(q.username, p.username) && eq(q.catalogName, p.catalogName) &&
        eq(q.database, p.database) && eq(q.tableName, p.tableName) &&
        eq(q.columnName, p.columnName) && eq(q.maskType, p.maskType) &&
        q.validFrom == p.validFrom && q.validUntil == p.validUntil)
    if (i >= 0) { dataMasks.remove(i); true } else false
  }
  def addPolicy(p: DenyRowPolicy): Boolean = synchronized { denies += p; true }
  def removePolicy(p: DenyRowPolicy): Boolean = synchronized {
    val i = denies.indexWhere(q =>
      eq(q.username, p.username) && eq(q.catalogName, p.catalogName) &&
        eq(q.database, p.database) && eq(q.tableName, p.tableName) &&
        q.validFrom == p.validFrom && q.validUntil == p.validUntil)
    if (i >= 0) { denies.remove(i); true } else false
  }
  def addPolicy(p: ColumnDenyPolicy): Boolean = synchronized { colDenies += p; true }
  def removePolicy(p: ColumnDenyPolicy): Boolean = synchronized {
    val i = colDenies.indexWhere(q =>
      eq(q.username, p.username) && eq(q.catalogName, p.catalogName) &&
        eq(q.database, p.database) && eq(q.tableName, p.tableName) &&
        eq(q.columnName, p.columnName) &&
        q.validFrom == p.validFrom && q.validUntil == p.validUntil)
    if (i >= 0) { colDenies.remove(i); true } else false
  }
  def registerMaskType(t: DataMaskType): Unit = synchronized { maskTypes += t }

  def rowFilterPolicies: Seq[RowFilterPolicy] = synchronized(rowFilters.toSeq)
  def dataMaskPolicies: Seq[DataMaskPolicy] = synchronized(dataMasks.toSeq)
  def denyPolicies: Seq[DenyRowPolicy] = synchronized(denies.toSeq)
  def columnDenyPolicies: Seq[ColumnDenyPolicy] = synchronized(colDenies.toSeq)

  /** Column names with an ACTIVE column deny for (user, table), at any
    * specificity — the rewrite entry points fail a query referencing any of
    * them ([[graft.SecurityContext]]); deny beats allow AND mask, so this
    * is checked before either rewrite runs. Names are as the policies
    * state them; callers match case-insensitively like every lookup here.
    */
  def deniedColumns(user: String, catalog: String, db: String,
      table: String): Seq[String] = synchronized {
    colDenies.collect {
      case p if inWindow(p.validFrom, p.validUntil) &&
        principalRank(p.username, user) >= 0 &&
        nameRank(p.catalogName, catalog) >= 0 &&
        nameRank(p.database, db) >= 0 &&
        nameRank(p.tableName, table) >= 0 => p.columnName
    }.toSeq.distinct
  }

  /** True when an ACTIVE deny matches (user, table) at any specificity —
    * deny overrides allow, so callers must check this before honoring any
    * row-filter condition.
    */
  def isDenied(user: String, catalog: String, db: String,
      table: String): Boolean = synchronized {
    denies.exists(p => inWindow(p.validFrom, p.validUntil) &&
      principalRank(p.username, user) >= 0 &&
      nameRank(p.catalogName, catalog) >= 0 &&
      nameRank(p.database, db) >= 0 &&
      nameRank(p.tableName, table) >= 0)
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
    if (isDenied(user, catalog, db, table)) Seq("false")
    else rowFilters.collect {
      case p if inWindow(p.validFrom, p.validUntil) &&
        principalRank(p.username, user) >= 0 &&
        nameRank(p.catalogName, catalog) >= 0 &&
        nameRank(p.database, db) >= 0 &&
        nameRank(p.tableName, table) >= 0 => p.condition
    }.toSeq
  }

  def dataMaskType(user: String, catalog: String, db: String, table: String,
      column: String): Option[DataMaskType] = synchronized {
    // most-specific-wins: rank (user, table, db, catalog) lexicographically;
    // stable maxBy keeps insertion order on full ties. The column itself is
    // never a wildcard — masking is a per-column decision.
    val matches = dataMasks.flatMap { p =>
      val ranks = (principalRank(p.username, user), nameRank(p.tableName, table),
        nameRank(p.database, db), nameRank(p.catalogName, catalog))
      if (inWindow(p.validFrom, p.validUntil) && eq(p.columnName, column) &&
        ranks._1 >= 0 && ranks._2 >= 0 && ranks._3 >= 0 && ranks._4 >= 0)
        Some((ranks, p.maskType))
      else None
    }
    (if (matches.isEmpty) None else Some(matches.maxBy(_._1)._2)).map { name =>
      // fail closed: a policy naming an unregistered mask type must never
      // degrade to passthrough — that would silently expose the column
      getMaskType(name).getOrElse(throw new IllegalStateException(
        s"mask policy on $catalog.$db.$table.$column references unregistered mask type '$name'"))
    }
  }

  /** Any mask policy (user-exact, group or wildcard) on any column of the
    * table, for `user` — the rules' cheap "does this table need the mask
    * pass at all" probe, same matching as [[dataMaskType]].
    */
  def hasDataMask(user: String, catalog: String, db: String,
      table: String): Boolean = synchronized {
    dataMasks.exists(p => inWindow(p.validFrom, p.validUntil) &&
      principalRank(p.username, user) >= 0 &&
      nameRank(p.catalogName, catalog) >= 0 && nameRank(p.database, db) >= 0 &&
      nameRank(p.tableName, table) >= 0)
  }

  def getMaskType(name: String): Option[DataMaskType] = synchronized {
    maskTypes.find(t => eq(t.name, name))
  }

  /** Export every policy as one JSON document — the admin-tooling round trip
    * a Ranger-style external policy service would use.
    */
  def exportJson(): String = synchronized {
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods
    val json =
      ("rowFilters" -> rowFilters.toList.map(p =>
        ("username" -> p.username) ~ ("catalogName" -> p.catalogName) ~
          ("database" -> p.database) ~ ("tableName" -> p.tableName) ~
          ("condition" -> p.condition) ~
          ("validFrom" -> p.validFrom) ~ ("validUntil" -> p.validUntil))) ~
      ("dataMasks" -> dataMasks.toList.map(p =>
        ("username" -> p.username) ~ ("catalogName" -> p.catalogName) ~
          ("database" -> p.database) ~ ("tableName" -> p.tableName) ~
          ("columnName" -> p.columnName) ~ ("maskType" -> p.maskType) ~
          ("validFrom" -> p.validFrom) ~ ("validUntil" -> p.validUntil))) ~
      ("denies" -> denies.toList.map(p =>
        ("username" -> p.username) ~ ("catalogName" -> p.catalogName) ~
          ("database" -> p.database) ~ ("tableName" -> p.tableName) ~
          ("validFrom" -> p.validFrom) ~ ("validUntil" -> p.validUntil))) ~
      ("columnDenies" -> colDenies.toList.map(p =>
        ("username" -> p.username) ~ ("catalogName" -> p.catalogName) ~
          ("database" -> p.database) ~ ("tableName" -> p.tableName) ~
          ("columnName" -> p.columnName) ~
          ("validFrom" -> p.validFrom) ~ ("validUntil" -> p.validUntil))) ~
      ("groups" -> groupMembers.toList.sortBy(_._1).map { case (g, members) =>
        ("name" -> g) ~ ("members" -> members.toList.sorted) })
    JsonMethods.compact(JsonMethods.render(json))
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
    val rfs = (root \ "rowFilters") match {
      case JArray(items) => items.map(v => RowFilterPolicy(
        str(v, "username"), str(v, "catalogName"), str(v, "database"),
        str(v, "tableName"), str(v, "condition"),
        optStr(v, "validFrom"), optStr(v, "validUntil")))
      case JNothing => Nil
      case other => throw new IllegalArgumentException(s"rowFilters must be an array, got $other")
    }
    val dms = (root \ "dataMasks") match {
      case JArray(items) => items.map(v => DataMaskPolicy(
        str(v, "username"), str(v, "catalogName"), str(v, "database"),
        str(v, "tableName"), str(v, "columnName"), str(v, "maskType"),
        optStr(v, "validFrom"), optStr(v, "validUntil")))
      case JNothing => Nil
      case other => throw new IllegalArgumentException(s"dataMasks must be an array, got $other")
    }
    val dns = (root \ "denies") match {
      case JArray(items) => items.map(v => DenyRowPolicy(
        str(v, "username"), str(v, "catalogName"), str(v, "database"),
        str(v, "tableName"), optStr(v, "validFrom"), optStr(v, "validUntil")))
      case JNothing => Nil
      case other => throw new IllegalArgumentException(s"denies must be an array, got $other")
    }
    val cdns = (root \ "columnDenies") match {
      case JArray(items) => items.map(v => ColumnDenyPolicy(
        str(v, "username"), str(v, "catalogName"), str(v, "database"),
        str(v, "tableName"), str(v, "columnName"),
        optStr(v, "validFrom"), optStr(v, "validUntil")))
      case JNothing => Nil
      case other => throw new IllegalArgumentException(s"columnDenies must be an array, got $other")
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
    synchronized { rowFilters ++= rfs; dataMasks ++= dms; denies ++= dns; colDenies ++= cdns }
    grps.foreach { case (g, members) => members.foreach(addUserToGroup(_, g)) }
  }
}

package graft.engine

/** Users / groups / dataset-access-level security model (SURVEY.md S8;
  * reference: Interface/Security.hs:90-103 access-level lattice,
  * DB/Schema.hs:339-493 tables users/groups/membership/
  * datasetuseraccess/datasetgroupaccess/cancreate*, DB/Security.hs
  * public group semantics, cachedcanread rebuild Schema.hs:468-493;
  * scenario contract: clients/cmdline/test-cases/runsecuritytests.sh).
  *
  * The effective level of a user on a dataset = max of their direct
  * grant and every grant to a group they belong to; new datasets give
  * their creator Manage; members of the "public" group can read
  * public datasets. Search filters by `canRead` per entry, on the
  * driver, instead of the trigger-maintained cachedcanread table.
  *
  * Reference defaults ported from runsecuritytests.sh:
  *  - users can create datasets AND groups by default; both privileges
  *    are admin-revocable/grantable (manage-user --grant/revoke-create*)
  *  - "public" means the public group holds UPDATE (sh:237 "By default
  *    'public' means the public group gets UPDATE privileges"), with a
  *    custom level settable via a plain group grant
  *  - admins hold every right everywhere (sh:126 "Admin has all rights")
  *  - an UNAUTHENTICATED principal (`levelOf(None, _)`) sees exactly
  *    what the public group sees (sh:289 "Public sources can be read
  *    without logging in")
  *
  * Credentials: each user carries a salted SHA-256 hash; login
  * verification is `verifyCred` (constant-time compare). The reference
  * delegates verification to an AuthProvider (Server/Auth/
  * VerifyCreds.hs, BasicAuth.hs, LDAP.hs); a stored salted hash is the
  * self-contained analog, and runsecuritytests.sh:75 pins the contract
  * that a wrong password must fail "dummy auth or not".
  *
  * Authorization failures throw [[Acl.Denied]] (HTTP 403), never a
  * generic IllegalArgumentException (HTTP 400).
  */
object Acl {

  sealed abstract class Level(val rank: Int, val display: String)
      extends Ordered[Level] {
    def compare(that: Level): Int = rank.compareTo(that.rank)
  }
  case object LevelNone extends Level(0, "no access")
  case object LevelRead extends Level(1, "READ")
  case object LevelUpdate extends Level(2, "UPDATE")
  case object LevelManage extends Level(3, "MANAGE")

  val PublicGroup = "public"

  /** Authorization failure: the principal is known but lacks the right. */
  final case class Denied(reason: String) extends RuntimeException(reason)

  /** Salted credential; hash = sha256(saltHex ++ utf8(password)). */
  final case class Cred(saltHex: String, hashHex: String)

  def hashCred(saltHex: String, pass: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(saltHex.getBytes("UTF-8"))
    md.update(pass.getBytes("UTF-8"))
    md.digest().map(b => f"$b%02x").mkString
  }

  /** Fresh random-salt credential for `pass` (session randomness is
    * fine here — determinism only matters on DATA paths).
    */
  def newCred(pass: String): Cred = {
    val salt = new Array[Byte](16)
    new java.security.SecureRandom().nextBytes(salt)
    val saltHex = salt.map(b => f"$b%02x").mkString
    Cred(saltHex, hashCred(saltHex, pass))
  }

  final case class State(
      users: Set[String] = Set.empty,
      groups: Set[String] = Set(PublicGroup),
      membership: Set[(String, String)] = Set.empty,          // (user, group)
      userAccess: Map[(String, String), Level] = Map.empty,   // (user, source) -> level
      groupAccess: Map[(String, String), Level] = Map.empty,  // (group, source) -> level
      canCreate: Set[String] = Set.empty,
      canCreateGroup: Set[String] = Set.empty,
      canManageGroup: Set[(String, String)] = Set.empty,      // (user, group)
      admins: Set[String] = Set.empty,
      creds: Map[String, Cred] = Map.empty) {

    private def check(cond: Boolean, reason: => String): Unit =
      if (!cond) throw Denied(reason)

    /** New users join the public group and hold CREATE + CREATEGROUP by
      * default (runsecuritytests.sh:87,171 "Users can create groups /
      * datasets by default"); both are revocable via revokeCreate*.
      */
    def addUser(u: String): State = {
      // "" encodes the anonymous principal (Search.SourcesSpec.readableBy)
      require(u.nonEmpty, "user name must not be empty")
      copy(users = users + u, membership = membership + ((u, PublicGroup)),
        canCreate = canCreate + u, canCreateGroup = canCreateGroup + u)
    }

    def addUser(u: String, pass: String): State =
      addUser(u).copy(creds = creds + (u -> newCred(pass)))

    /** Verify a login credential. False for unknown users, users with
      * no stored credential, and wrong passwords alike (sh:75 "If we
      * get the admin password wrong it should not work").
      */
    def verifyCred(u: String, pass: String): Boolean =
      creds.get(u).exists { c =>
        java.security.MessageDigest.isEqual(
          hashCred(c.saltHex, pass).getBytes("UTF-8"), c.hashHex.getBytes("UTF-8"))
      }

    /** Set a user's password: self-service or admin. */
    def setCred(byUser: String, u: String, pass: String): State = {
      check(byUser == u || admins.contains(byUser), s"$byUser cannot set password for $u")
      check(users.contains(u), s"unknown user: $u")
      copy(creds = creds + (u -> newCred(pass)))
    }

    // ---- manage-user (db-admin) operations: admin only ----

    private def checkAdmin(byUser: String, what: String): Unit =
      check(admins.contains(byUser), s"$byUser is not an administrator ($what)")

    def grantCreate(byUser: String, u: String): State = {
      checkAdmin(byUser, "grant-create"); copy(canCreate = canCreate + u)
    }
    def revokeCreate(byUser: String, u: String): State = {
      checkAdmin(byUser, "revoke-create"); copy(canCreate = canCreate - u)
    }
    def grantCreateGroup(byUser: String, u: String): State = {
      checkAdmin(byUser, "grant-create-group"); copy(canCreateGroup = canCreateGroup + u)
    }
    def revokeCreateGroup(byUser: String, u: String): State = {
      checkAdmin(byUser, "revoke-create-group"); copy(canCreateGroup = canCreateGroup - u)
    }

    // ---- groups ----

    def mayCreateDataset(u: String): Boolean =
      admins.contains(u) || canCreate.contains(u)

    def mayCreateGroup(u: String): Boolean =
      admins.contains(u) || canCreateGroup.contains(u)

    /** Group-manage right: the creator, anyone granted manage, and
      * admins (sh:126 "Admin has all rights" over groups they did not
      * create). Membership does NOT imply manage (sh:125).
      */
    def managesGroup(u: String, g: String): Boolean =
      admins.contains(u) || canManageGroup.contains((u, g))

    def createGroup(byUser: String, g: String): State = {
      check(mayCreateGroup(byUser), s"$byUser cannot create groups")
      check(!groups.contains(g), s"group exists: $g")
      copy(groups = groups + g, canManageGroup = canManageGroup + ((byUser, g)))
    }

    def addToGroup(byUser: String, u: String, g: String): State = {
      check(managesGroup(byUser, g), s"$byUser cannot manage $g")
      copy(membership = membership + ((u, g)))
    }

    def removeFromGroup(byUser: String, u: String, g: String): State = {
      check(managesGroup(byUser, g), s"$byUser cannot manage $g")
      copy(membership = membership - ((u, g)))
    }

    /** Grant / revoke group-manage: requires manage on the group
      * (sh:141-144: Carol, the creator of AC, grants Alice manage;
      * Alice then revokes CAROL's — new managers hold the full right).
      */
    def grantManageGroup(byUser: String, u: String, g: String): State = {
      check(managesGroup(byUser, g), s"$byUser cannot manage $g")
      copy(canManageGroup = canManageGroup + ((u, g)))
    }

    def revokeManageGroup(byUser: String, u: String, g: String): State = {
      check(managesGroup(byUser, g), s"$byUser cannot manage $g")
      copy(canManageGroup = canManageGroup - ((u, g)))
    }

    // ---- datasets ----

    /** Grant by a user holding Manage on the source. */
    def grantUser(byUser: String, u: String, source: String, l: Level): State = {
      check(level(byUser, source) == LevelManage, s"$byUser cannot manage $source")
      copy(userAccess = userAccess + ((u, source) -> l))
    }

    def grantGroup(byUser: String, g: String, source: String, l: Level): State = {
      check(level(byUser, source) == LevelManage, s"$byUser cannot manage $source")
      copy(groupAccess = groupAccess + ((g, source) -> l))
    }

    /** Creator gets Manage (DB/Sources.hs newSource semantics); if
      * `public`, the public group gets the default public level UPDATE
      * (sh:178 "New datasets are public by default, which means other
      * users can download them, upload new versions").
      */
    def onCreate(creator: String, source: String, public: Boolean = false): State = {
      val s = copy(userAccess = userAccess + ((creator, source) -> LevelManage))
      if (public) s.copy(groupAccess =
        s.groupAccess + ((PublicGroup, source) -> LevelUpdate))
      else s
    }

    /** Public datasets: the public group's level, UPDATE by default
      * (sh:237), overridable (sh:241-246 custom READ / MANAGE).
      */
    def makePublic(byUser: String, source: String,
                   level: Level = LevelUpdate): State =
      grantGroup(byUser, PublicGroup, source, level)

    def makePrivate(byUser: String, source: String): State =
      grantGroup(byUser, PublicGroup, source, LevelNone)

    /** Effective level: max over direct + group grants; admins hold
      * Manage everywhere (sh:126).
      */
    def level(u: String, source: String): Level = {
      if (admins.contains(u)) LevelManage
      else {
        val direct = userAccess.getOrElse((u, source), LevelNone)
        val viaGroups = membership.collect {
          case (`u`, g) => groupAccess.getOrElse((g, source), LevelNone)
        }
        (viaGroups.toSeq :+ direct).max
      }
    }

    /** Level of a possibly-anonymous principal: None sees exactly the
      * public group's grants (sh:289 public sources readable without
      * logging in), capped at READ — mutating a dataset always
      * requires an authenticated identity.
      */
    def levelOf(u: Option[String], source: String): Level = u match {
      case Some(x) => level(x, source)
      case None =>
        val pub = groupAccess.getOrElse((PublicGroup, source), LevelNone)
        if (pub >= LevelRead) LevelRead else LevelNone
    }

    def canRead(u: String, source: String): Boolean = level(u, source) >= LevelRead

    def canRead(u: Option[String], source: String): Boolean =
      levelOf(u, source) >= LevelRead

    /** One (usr, sourcename) row per readable pair; the anonymous
      * principal appears as usr="". Kept only for perfbench, whose
      * direct routes feed it to Search's frame adapters.
      */
    def canReadDf(spark: org.apache.spark.sql.SparkSession,
                  sources: Seq[String]): org.apache.spark.sql.DataFrame = {
      import spark.implicits._
      val named = for { u <- users.toSeq; s <- sources if canRead(u, s) } yield (u, s)
      val anon = for { s <- sources if canRead(None, s) } yield ("", s)
      (named ++ anon).toDF("usr", "sourcename")
    }
  }
}

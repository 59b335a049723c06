package graft.engine

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import Acl._

/** Security model semantics (runsecuritytests.sh scenario style). */
class AclSpec extends AnyFunSuite {

  private val base = State(canCreateGroup = Set("admin"))
    .addUser("admin").addUser("alice").addUser("bob").addUser("carol")

  test("creator gets manage; others none") {
    val s = base.onCreate("alice", "ds1")
    assert(s.level("alice", "ds1") == LevelManage)
    assert(s.level("bob", "ds1") == LevelNone)
    assert(!s.canRead("bob", "ds1"))
  }

  test("direct grant and revoke-by-downgrade") {
    var s = base.onCreate("alice", "ds1")
    s = s.grantUser("alice", "bob", "ds1", LevelRead)
    assert(s.canRead("bob", "ds1") && s.level("bob", "ds1") == LevelRead)
    s = s.grantUser("alice", "bob", "ds1", LevelNone)
    assert(!s.canRead("bob", "ds1"))
    intercept[Acl.Denied] {
      s.grantUser("bob", "carol", "ds1", LevelRead) // bob can't manage
    }
  }

  test("group grants: effective level is max over memberships") {
    var s = base.onCreate("alice", "ds1")
    s = s.createGroup("admin", "team")
    s = s.addToGroup("admin", "bob", "team")
    s = s.grantGroup("alice", "team", "ds1", LevelUpdate)
    assert(s.level("bob", "ds1") == LevelUpdate)
    s = s.grantUser("alice", "bob", "ds1", LevelRead)
    assert(s.level("bob", "ds1") == LevelUpdate) // max wins
  }

  test("public datasets readable by everyone via the public group") {
    var s = base.onCreate("alice", "ds1")
    assert(!s.canRead("carol", "ds1"))
    s = s.makePublic("alice", "ds1")
    assert(s.canRead("carol", "ds1"))
  }

  test("canReadDf lists every readable (usr, sourcename) pair, incl. the anonymous row") {
    val spark = TestSpark.spark
    var s = base.onCreate("alice", "ds1").onCreate("bob", "ds2")
    s = s.makePublic("alice", "ds1")
    val df = s.canReadDf(spark, Seq("ds1", "ds2"))
    import spark.implicits._
    val pairs = df.as[(String, String)].collect().toSet
    assert(pairs.contains(("carol", "ds1")))
    assert(!pairs.contains(("carol", "ds2")))
    assert(pairs.contains(("bob", "ds2")))
    // anonymous (usr="") sees public sources only
    assert(pairs.contains(("", "ds1")))
    assert(!pairs.contains(("", "ds2")))
  }

  test("default public level is UPDATE; custom levels override (sh:237-246)") {
    var s = base.onCreate("bob", "Bob1")
    s = s.makePublic("bob", "Bob1")
    assert(s.level("alice", "Bob1") == LevelUpdate) // can upload new versions
    assert(s.level("alice", "Bob1") != LevelManage) // but not manage
    s = s.makePublic("bob", "Bob1", LevelRead)
    assert(s.level("alice", "Bob1") == LevelRead)
    s = s.makePrivate("bob", "Bob1")
    assert(!s.canRead("alice", "Bob1"))
  }

  test("anonymous principal: public read only, never update (sh:289)") {
    var s = base.onCreate("bob", "Bob1", public = true)
    assert(s.levelOf(None, "Bob1") == LevelRead) // capped at READ
    assert(s.canRead(None, "Bob1"))
    s = s.makePrivate("bob", "Bob1")
    assert(!s.canRead(None, "Bob1"))
  }

  test("admins hold every right everywhere (sh:126)") {
    var s = base.copy(admins = Set("admin"))
    s = s.onCreate("bob", "Bob1")
    assert(s.level("admin", "Bob1") == LevelManage)
    s = s.createGroup("bob", "BC") // bob creates, admin did not
    s = s.addToGroup("admin", "carol", "BC") // admin manages anyway
    s = s.removeFromGroup("admin", "carol", "BC")
    intercept[Acl.Denied] { s.addToGroup("carol", "alice", "BC") }
  }

  test("CREATE/CREATEGROUP: granted by default, admin-revocable (sh:87-98,171-176)") {
    var s = base.copy(admins = Set("admin"))
    assert(s.mayCreateGroup("carol") && s.mayCreateDataset("carol"))
    s = s.revokeCreateGroup("admin", "carol")
    assert(!s.mayCreateGroup("carol"))
    intercept[Acl.Denied] { s.createGroup("carol", "AC") }
    s = s.grantCreateGroup("admin", "carol")
    s = s.createGroup("carol", "AC")
    assert(s.groups.contains("AC"))
    // only admins run manage-user operations
    intercept[Acl.Denied] { s.revokeCreate("bob", "carol") }
  }

  test("group manage rights: creator has them, membership does not (sh:110-145)") {
    var s = base.copy(admins = Set("admin"))
    s = s.createGroup("bob", "BC")
    s = s.addToGroup("bob", "carol", "BC")
    intercept[Acl.Denied] { s.addToGroup("carol", "alice", "BC") }
    // grant-manage hands over the full right, incl. revoking the granter
    s = s.grantManageGroup("bob", "alice", "BC")
    s = s.addToGroup("alice", "carol", "BC")
    s = s.revokeManageGroup("alice", "bob", "BC")
    intercept[Acl.Denied] { s.addToGroup("bob", "alice", "BC") }
  }

  test("credentials: salted hashes verify; wrong password fails (sh:75)") {
    var s = State(admins = Set("admin")).addUser("admin", "adminpw")
      .addUser("bob", "hunter2")
    assert(s.verifyCred("bob", "hunter2"))
    assert(!s.verifyCred("bob", "wrong"))
    assert(!s.verifyCred("nobody", "hunter2")) // unknown user: same failure
    assert(!s.verifyCred("bob", ""))
    // self-service and admin password change; others denied
    s = s.setCred("bob", "bob", "newpw")
    assert(s.verifyCred("bob", "newpw") && !s.verifyCred("bob", "hunter2"))
    s = s.setCred("admin", "bob", "adminset")
    assert(s.verifyCred("bob", "adminset"))
    s = s.addUser("eve", "x")
    intercept[Acl.Denied] { s.setCred("eve", "bob", "stolen") }
    // hashes are salted: same password, different stored hash
    val s2 = State().addUser("u1", "same").addUser("u2", "same")
    assert(s2.creds("u1").hashHex != s2.creds("u2").hashHex)
  }
}

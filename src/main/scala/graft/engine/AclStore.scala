package graft.engine

import org.apache.spark.sql.SparkSession

/** Durable ACL/user state next to the catalog (`<warehouse>/acl.json`)
  * — the analog of the reference's users/groups/membership/
  * datasetuseraccess/datasetgroupaccess/cancreate* Postgres tables
  * (DB/Schema.hs:339-493): principals, group structure, dataset
  * grants, admin set, and salted credentials all survive a server
  * restart.
  *
  * Format: one deterministic JSON document (sorted arrays) written
  * through JsonDoc's write-then-swap, like `catalog.json` — a crash
  * mid-save leaves the previous state, never a torn file. Sized by
  * principals and grants (catalog-scale, not data-scale).
  */
object AclStore {

  // the acl.json document, field for field; Jackson writes the fields
  // in declaration order
  private final case class Pair(a: String, b: String)
  private final case class Access(who: String, source: String, level: Int)
  private final case class CredDoc(user: String, salt: String, hash: String)
  private final case class Doc(
      users: Seq[String], groups: Seq[String], admins: Seq[String],
      canCreate: Seq[String], canCreateGroup: Seq[String],
      membership: Seq[Pair], canManageGroup: Seq[Pair],
      userAccess: Seq[Access], groupAccess: Seq[Access], creds: Seq[CredDoc])

  private val levels =
    Seq(Acl.LevelNone, Acl.LevelRead, Acl.LevelUpdate, Acl.LevelManage).map(l => l.rank -> l).toMap

  def save(spark: SparkSession, path: String, st: Acl.State): Unit = {
    def pairs(ps: Set[(String, String)]) = ps.toSeq.sorted.map { case (a, b) => Pair(a, b) }
    def access(m: Map[(String, String), Acl.Level]) =
      m.toSeq.sortBy(_._1).map { case ((who, source), l) => Access(who, source, l.rank) }
    JsonDoc.write(spark, path, Doc(
      st.users.toSeq.sorted, st.groups.toSeq.sorted, st.admins.toSeq.sorted,
      st.canCreate.toSeq.sorted, st.canCreateGroup.toSeq.sorted,
      pairs(st.membership), pairs(st.canManageGroup),
      access(st.userAccess), access(st.groupAccess),
      st.creds.toSeq.sortBy(_._1).map { case (u, c) => CredDoc(u, c.saltHex, c.hashHex) }))
  }

  def load(spark: SparkSession, path: String): Option[Acl.State] =
    JsonDoc.read(spark, path)(in => JsonDoc.mapper.readValue(in, classOf[Doc])).map { d =>
      def pairs(ps: Seq[Pair]) = ps.map(p => (p.a, p.b)).toSet
      def access(as: Seq[Access]) = as.map(a => (a.who, a.source) -> levels.getOrElse(a.level,
        throw new IllegalArgumentException(s"bad level rank: ${a.level}"))).toMap
      Acl.State(
        users = d.users.toSet,
        groups = d.groups.toSet,
        membership = pairs(d.membership),
        userAccess = access(d.userAccess),
        groupAccess = access(d.groupAccess),
        canCreate = d.canCreate.toSet,
        canCreateGroup = d.canCreateGroup.toSet,
        canManageGroup = pairs(d.canManageGroup),
        admins = d.admins.toSet,
        creds = d.creds.map(c => c.user -> Acl.Cred(c.salt, c.hash)).toMap)
    }
}

package graft

import graft.acl.Acl
import org.apache.spark.sql.functions._

/** Metadata-contract ACL (reference src/memvid/acl.rs — its own unit
  * tests mirrored here, plus the normalization and re-rank corners the
  * oracle gate's fixture doesn't isolate). */
class AclMetadataSpec extends SparkSpec with TempStores {
  import spark.implicits._

  private def tmpDir: String =
    tempDir("graft-acl-meta")

  private val restricted = Map(
    Acl.TenantKey -> "tenant-a",
    Acl.VisibilityKey -> "restricted",
    Acl.ReadRolesKey -> """["admin","analyst"]""",
    Acl.ReadGroupsKey -> """["eng"]""",
    Acl.ReadPrincipalsKey -> """["user-123"]""")

  private def decide(meta: Map[String, String], ctx: Acl.Context): String =
    Seq((1L, meta)).toDF("id", "m")
      .select(Acl.metadataDecision(col("m"), ctx).as("d"))
      .head.getString(0)

  private val groupCtx = Acl.Context("tenant-a", Some("user-999"),
    roles = Seq("viewer"), groupIds = Seq("eng"))

  test("reference unit tests: cross-tenant, group allow, missing metadata, malformed list") {
    // evaluate_acl_denies_cross_tenant
    assert(decide(restricted, groupCtx.copy(tenantId = "tenant-b")) == "cross_tenant")
    // evaluate_acl_allows_restricted_group_match
    assert(decide(restricted, groupCtx) == "allow")
    // evaluate_acl_denies_missing_metadata
    assert(decide(Map.empty, groupCtx) == "missing_metadata")
    // parse_acl_metadata_rejects_invalid_list_encoding
    assert(decide(restricted + (Acl.ReadGroupsKey -> "eng,ops"), groupCtx)
      == "missing_metadata")
  }

  test("list elements must be JSON strings — serde Vec<String>, not a cast coercion") {
    // parse_acl_list is serde from_str::<Vec<String>> (acl.rs:242-256):
    // valid JSON whose elements are numbers/objects/arrays/null is a
    // metadata error even though from_json would coerce it. A frame with
    // acl_read_roles='[1,2]' must deny, never fail open.
    for (bad <- Seq("[1, 2]", """[{"r":"eng"}]""", """[["eng"]]""",
                    """["eng", 7]""", "[true]", "[null]"))
      assert(decide(restricted + (Acl.ReadRolesKey -> bad), groupCtx)
        == "missing_metadata", s"raw=$bad")
    // while escaped/whitespace-laden STRING arrays still parse
    assert(decide(restricted + (Acl.ReadGroupsKey -> """ [ "ENG" , "a\"b" ] """),
      groupCtx) == "allow")
    assert(decide(restricted + (Acl.ReadGroupsKey -> "[]"),
      groupCtx.copy(subjectId = None, roles = Nil)) == "restricted")
  }

  test("visibility rules: public short-circuits, restricted needs an intersection, tenant precedes") {
    val pub = restricted + (Acl.VisibilityKey -> "public")
    val noLists = Map(Acl.TenantKey -> "tenant-a",
      Acl.VisibilityKey -> "restricted")
    val nobody = Acl.Context("tenant-a", Some("user-000"))
    assert(decide(pub, nobody) == "allow")
    assert(decide(restricted, nobody) == "restricted")
    assert(decide(noLists, groupCtx) == "restricted") // missing lists = empty sets
    assert(decide(restricted,
      Acl.Context("tenant-a", Some("user-123"))) == "allow") // principal path
    assert(decide(restricted, Acl.Context("tenant-a",
      roles = Seq("analyst"))) == "allow") // role path
    // tenant isolation wins over public visibility
    assert(decide(pub, groupCtx.copy(tenantId = "tenant-b")) == "cross_tenant")
    // invalid visibility is a metadata error, not restricted
    assert(decide(restricted + (Acl.VisibilityKey -> "secret"), groupCtx)
      == "missing_metadata")
  }

  test("normalize_scalar: trim, legacy JSON-quote unwrap, lowercase; empty elements reject the list") {
    val legacy = Map(
      Acl.TenantKey -> "  \"Tenant-A\"  ",
      Acl.VisibilityKey -> "\"Restricted\"",
      Acl.ReadRolesKey -> """[" Analyst "]""")
    assert(decide(legacy, Acl.Context(" TENANT-A ", roles = Seq("ANALYST")))
      == "allow")
    // an element that normalizes to empty is a parse error (acl.rs:252)
    assert(decide(restricted + (Acl.ReadRolesKey -> """["  "]"""), groupCtx)
      == "missing_metadata")
  }

  test("applyMetadata: Audit annotates, Enforce filters and re-ranks densely") {
    val hits = Seq(
      (10L, 0.9, restricted + (Acl.VisibilityKey -> "public")),
      (11L, 0.8, restricted), // denied for nobody-ctx
      (12L, 0.7, restricted + (Acl.VisibilityKey -> "public")),
      (13L, 0.6, Map.empty[String, String])).toDF("id", "score", "m")
    val nobody = Acl.Context("tenant-a", Some("user-000"))
    val audit = Acl.applyMetadata(hits, col("m"), nobody, Acl.Audit,
      rankBy = Seq(col("score").desc))
    assert(audit.count() == 4)
    assert(audit.filter(col("acl_allowed")).count() == 2)
    val enforced = Acl.applyMetadata(hits, col("m"), nobody, Acl.Enforce,
        rankBy = Seq(col("score").desc, col("id")))
      .select("id", "acl_rank").collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(enforced.sortBy(_._2).toSeq == Seq((10L, 1), (12L, 2)),
      "hit.rank = index + 1 over the survivors (acl.rs:129-133)")
  }

  test("facade end-to-end: metadata contract through put/search/ask, chunks inherit") {
    val dir = tmpDir
    val g = new graft.api.Graft(spark, dir)
    g.put("mv2://open/1", "solar cabin heating notes",
      metadata = Map(Acl.TenantKey -> "tenant-a", Acl.VisibilityKey -> "public"))
    g.put("mv2://sec/2", "cabin blueprints restricted copy",
      metadata = restricted)
    g.put("mv2://other/3", "cabin plans from another tenant",
      metadata = Map(Acl.TenantKey -> "tenant-b", Acl.VisibilityKey -> "public"))
    g.put("mv2://none/4", "cabin with no policy at all")
    val nobody = Acl.Context("tenant-a", Some("user-000"))
    val analyst = Acl.Context("tenant-a", Some("user-000"), roles = Seq("analyst"))
    // Enforce: nobody sees only the public tenant-a frame
    val page = g.search("cabin",
      acl = Some(Acl.MetadataCheck(nobody, Acl.Enforce)))
    assert(page.select("id").count() == 1)
    assert(page.select("acl_rank").head.getInt(0) == 1)
    // the analyst's role unlocks the restricted frame
    assert(g.search("cabin",
      acl = Some(Acl.MetadataCheck(analyst, Acl.Enforce))).count() == 2)
    // Audit keeps all hits annotated
    val audited = g.search("cabin",
      acl = Some(Acl.MetadataCheck(nobody, Acl.Audit)))
    assert(audited.count() == 4 &&
      audited.filter(col("acl_allowed")).count() == 1)
    // ask: citations honor the contract end-to-end
    val resp = g.ask("cabin blueprints",
      acl = Some(Acl.MetadataCheck(nobody, Acl.Enforce)))
    assert(resp.citations.nonEmpty && resp.citations.forall(_.aclAllowed.contains(true)))
    val secretId = g.search("blueprints").select("id").head.getLong(0)
    assert(!resp.citations.exists(_.id == secretId))
    assert(g.ask("cabin blueprints",
        acl = Some(Acl.MetadataCheck(analyst, Acl.Enforce)))
      .citations.exists(_.id == secretId))
    // update: the superseding version's metadata is NOT inherited — an
    // omitted policy denies by default (safe direction); re-supplying it
    // maintains access
    val openId = g.search("solar").select("id").head.getLong(0)
    val v2 = g.update(openId, "solar cabin heating notes v2", "mv2://open/1")
    assert(g.search("cabin",
      acl = Some(Acl.MetadataCheck(nobody, Acl.Enforce))).count() == 0,
      "an update without metadata must drop to deny-by-default")
    g.update(v2, "solar cabin heating notes v3", "mv2://open/1",
      metadata = Map(Acl.TenantKey -> "tenant-a", Acl.VisibilityKey -> "public"))
    assert(g.search("cabin",
      acl = Some(Acl.MetadataCheck(nobody, Acl.Enforce))).count() == 1)
    // chunk inheritance: a long restricted doc's CHUNK hits are governed
    val longText = (1 to 80).map(i =>
      s"quantum reactor maintenance step $i with many details").mkString(". ")
    g.put("mv2://sec/long", longText, metadata = restricted)
    val chunkHits = g.search("reactor")
    assert(chunkHits.count() >= 2, "long doc must hit via chunks too")
    assert(g.search("reactor",
      acl = Some(Acl.MetadataCheck(nobody, Acl.Enforce))).count() == 0,
      "restricted parent policy must govern chunk hits")
    assert(g.search("reactor",
      acl = Some(Acl.MetadataCheck(analyst, Acl.Enforce))).count() ==
      chunkHits.count())
  }
}

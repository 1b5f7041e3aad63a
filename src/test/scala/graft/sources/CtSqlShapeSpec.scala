package graft.sources

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** Golden shapes for the generated T-SQL — the one place byte-level
  * compatibility with the reference's templates is observable
  * (SqlSnippets/GetSelectDeltaQuery.sql, GetSelectAllQuery.sql). Locks
  * in the partition-aware match clause fix (ADVICE r1 high: PK match
  * is ALWAYS required; only the partition predicate is waived for
  * deletes). */
class CtSqlShapeSpec extends AnyFlatSpec with Matchers {

  behavior of "ChangeTrackingQueries codegen"

  it should "generate the reference's merge-key T-SQL expression" in {
    ChangeTrackingQueries.mergeKeyTsql(Seq("id", "ver"), "ct") shouldBe
      "lower(convert(nvarchar(128), HashBytes('SHA2_256', " +
        "cast(ct.[id] as nvarchar(128)) + '#' + cast(ct.[ver] as nvarchar(128))), 2))"
  }

  it should "require the PK match and waive only the partition predicate for deletes" in {
    ChangeTrackingQueries.matchClause(Seq("id"), Some("tq.[region] = 'EU'")) shouldBe
      "(tq.[id] = ct.[id] and (ct.SYS_CHANGE_OPERATION = 'D' or tq.[region] = 'EU'))"
    ChangeTrackingQueries.matchClause(Seq("a", "b"), None) shouldBe
      "tq.[a] = ct.[a] and tq.[b] = ct.[b]"
  }

  it should "generate the full-load query with literal change metadata" in {
    val sql = ChangeTrackingQueries.selectAll("dbo", "orders", Seq("id"), Seq("total"))
    sql should include("0 AS SYS_CHANGE_VERSION")
    sql should include("'I' AS SYS_CHANGE_OPERATION")
    sql should include("FROM [dbo].[orders] tq")
    sql should not include "CHANGETABLE" // snapshot reads the base table
  }

  it should "generate a bounded, striped delta for DSv2 batch replay" in {
    val sql = ChangeTrackingQueries.selectDeltaBounded("dbo", "orders",
      Seq("id"), Seq("total"), fromVersion = 42L, toVersion = 99L,
      partitionExpression = None, stripe = 2, numStripes = 4)
    sql should include("CHANGETABLE(CHANGES [dbo].[orders], 42) ct")
    // the reference's delta template: PKs from the change side, non-PKs
    // from the base table, CT metadata passed through, PK match
    sql should include("ct.[id], tq.[total], ct.SYS_CHANGE_VERSION, ct.SYS_CHANGE_OPERATION")
    sql should include("AS ARCANE_MERGE_KEY")
    sql should include("ON tq.[id] = ct.[id]")
    // the upper bound makes the batch deterministic under WAL replay
    sql should include("WHERE ct.SYS_CHANGE_VERSION <= 99")
    // the frame version is the batch's END OFFSET, not read-time state
    sql should include("cast(99 as bigint) AS ChangeTrackingVersion")
    sql should not include "CHANGE_TRACKING_CURRENT_VERSION()"
    // executor stripes partition the delta by PK checksum
    sql should include("ABS(CHECKSUM(ct.[id])) % 4 = 2")
  }

  it should "omit the stripe predicate for a single-stripe bounded delta" in {
    val sql = ChangeTrackingQueries.selectDeltaBounded("dbo", "orders",
      Seq("id"), Seq("total"), fromVersion = 0L, toVersion = 7L)
    sql should not include "CHECKSUM"
    sql should include("WHERE ct.SYS_CHANGE_VERSION <= 7")
  }

  it should "seek versions from the commit table" in {
    ChangeTrackingQueries.seekVersionByLookback(86400) should
      include("DATEADD(second, -86400, GETUTCDATE())")
  }
}

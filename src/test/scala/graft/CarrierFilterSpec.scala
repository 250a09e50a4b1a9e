package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.ArrayTransform
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.catalyst.plans.logical.{Join, Project}
import org.apache.spark.sql.functions.{broadcast, col}
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Backup, Writeback}
import graft.sqlgen.Wm

/** Recovery from a carrier-id list filters the attacked copy to the
  * carriers before the copy's own projection runs: the rows its
  * decode-and-vote pass scans (`Backup.carrierRows`) are an IN subquery
  * that Catalyst turns into a LeftSemi below the view, with the votes
  * and the message of the inner join it replaced. */
class CarrierFilterSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** A watermarked sf0.001 table, its id list and two attacked copies
    * (noise on 30% of the rows; 10% of the rows deleted). */
  private lazy val (ids, attacked): (String, Seq[DataFrame]) = {
    val s = spark.newSession()
    s.conf.set("spark.graft.scratch", "off")
    val out = Files.createTempDirectory("graft_filter").toString
    Writeback.writeStego(s, TestSpark.Sf, s"$out/stego")
    Backup.saveCarrierIds(s, TestSpark.Sf, s"$out/ids")
    s.read.parquet(s"$out/stego").createOrReplaceTempView("t")
    (s"$out/ids", Seq(
      s.sql("""select vec_id, case when pmod(xxhash64(vec_id, 'g'), 10) < 3
              |then transform(embedding, (x, i) -> x + 0.01 * sin(vec_id * 7 + i)) else embedding end
              |as embedding from t""".stripMargin),
      s.sql("select vec_id, embedding from t where pmod(xxhash64(vec_id, 'keep'), 10) < 9")))
  }

  test("the carrier filter is a LeftSemi below the attacked view's projection") {
    val plan = Backup.carrierRows(attacked.head, ids).queryExecution.optimizedPlan
    val view = plan.collectFirst {
      case p: Project if p.projectList.exists(_.exists(_.isInstanceOf[ArrayTransform])) => p
    }
    assert(view.isDefined, plan.treeString)
    assert(view.get.exists {
      case j: Join => j.joinType == LeftSemi
      case _ => false
    }, plan.treeString)
  }

  test("recovered votes and messages equal the inner-join form's on attacked copies") {
    for (v <- attacked) {
      val carrierIds = v.sparkSession.read.parquet(ids).select("vec_id")
      // the inner-join form: the copy joined to the ids, then extracted
      // (the IN filter keeps every row of it)
      val joined = v.join(broadcast(carrierIds), "vec_id").select(v.columns.map(col): _*)
      val got = Backup.extractFromIds(v, ids)
      val ref = Backup.extractFromIds(joined, ids)
      assert(got.exceptAll(ref).isEmpty && ref.exceptAll(got).isEmpty)
      assert(Backup.recoverFromIds(v, ids) == Wm.Message)
    }
  }
}

package perfbench

import graft.sources.CommitLog
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The table_mixed model: every write kind applied through the commit-log
  * API must leave the table equal to the same writes replayed as plain
  * DataFrame transforms — the equality the benchmark checks on each run. */
class TableModelSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false").getOrCreate()

  private val schema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampNTZType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  test("commit-log writes equal the DataFrame model, write by write") {
    val gen = new OpGen(new scala.util.Random(7), 0L)
    val seed = spark.createDataFrame(spark.sparkContext.parallelize(gen.fresh(400), 2), schema)
    val table = java.nio.file.Files.createTempDirectory("pb_model").toString
    CommitLog.appendIndexed(spark, table, seed.repartition(4), "event_id")
    CommitLog.setTableProperty(table, "cdc", "true")
    import Write._
    val writes = Seq(Append(gen.fresh(30)), Delete(10, 40), Update(50, 90, 1.5),
      Merge((100L until 130L).map(gen.row) ++ gen.fresh(5)), DeleteDv(200, 220),
      Maintain(1, 2), Update(0, 1000, 1.5), Append(gen.fresh(3))) ++
      TableMixed.Cycle.filterNot(_.contains("read")).map(gen.write)
    val (model, touched) = TableModel.replay(seed, writes)
    writes.foreach(w => TableModel.commit(spark, table, schema, w))
    assert(TableModel.symmetricDiff(CommitLog.read(spark, table), model) == 0)
    assert(touched.size == writes.count(!_.isInstanceOf[Maintain]))
    // a wrong model is caught: one extra update the table never saw
    val wrong = TableModel.apply(model, Update(0, 5, 1.0))
    assert(TableModel.symmetricDiff(CommitLog.read(spark, table), wrong) > 0)
  }

  test("touched rows: pre-images for deletes, post-images for updates") {
    val gen = new OpGen(new scala.util.Random(3), 0L)
    val t = spark.createDataFrame(spark.sparkContext.parallelize(gen.fresh(20), 1), schema)
    val del = TableModel.touched(t, Write.Delete(2, 5)).get
    assert(del.count() == 4)
    val upd = TableModel.touched(t, Write.Update(2, 5, 1.5)).get
    val before = t.where("event_id BETWEEN 2 AND 5").select("value").collect().map(_.getDouble(0)).sorted
    val after = upd.select("value").collect().map(_.getDouble(0)).sorted
    assert(after.toSeq == before.toSeq.map(_ + 1.5))
    assert(TableModel.touched(t, Write.Maintain(1, 1)).isEmpty)
  }

  test("the operation stream is a function of the seed") {
    def stream(seed: Long) = {
      val g = new OpGen(new scala.util.Random(seed), 1000L)
      (0 until 50).map { i =>
        val kind = TableMixed.Cycle(i % TableMixed.Cycle.size)
        if (kind.contains("read")) g.read(kind, 10).toString else g.write(kind).toString
      }
    }
    assert(stream(11) == stream(11))
    assert(stream(11) != stream(12))
  }
}

package perfbench

import java.sql.Timestamp

import scala.io.Source

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Pipeline
import graft.model.Turn

/** Workload inputs. Each is a pure function of the seed and of files in
  * the checkout, so one seed always gives the same turns. */
object Inputs {

  def readJsonl(path: String): Vector[JsonNode] = {
    val mapper = new ObjectMapper()
    val src = Source.fromFile(path, "UTF-8")
    try src.getLines().map(mapper.readTree).toVector
    finally src.close()
  }

  def optText(n: JsonNode, f: String): String = {
    val v = n.get(f)
    if (v == null || v.isNull) null else v.asText()
  }

  /** The sf0.1 documents table as transcript turns, in key order. */
  def documentTurns(spark: SparkSession, dataDir: String): Vector[Turn] =
    Pipeline.turnsFromDocuments(spark, dataDir).collect().toVector.sortBy(t => (t.conv_id, t.turn_idx))

  /** The committed golden corpus (receipts, tables, forms, ID cards, ...). */
  def goldenCorpus(path: String): Vector[Turn] =
    readJsonl(path).map { n =>
      Turn(n.get("conv_id").asText(), n.get("turn_idx").asInt(), n.get("role").asText(),
        optText(n, "text"), n.get("tool").asText(), new Timestamp(n.get("ts").asLong()))
    }

  /** Every base turn replicated until `n` turns exist, each replica under
    * a seeded conv-id suffix, all placed in seeded order. */
  def replicate(base: Vector[Turn], n: Int, seed: Long): Vector[Turn] = {
    val reps = (n + base.length - 1) / base.length
    val tag = java.lang.Long.toString(seed & 0xffffffL, 36)
    val pairs = for (r <- 0 until reps; i <- base.indices) yield (i, r)
    new scala.util.Random(seed).shuffle(pairs).take(n).map { case (i, r) =>
      val b = base(i)
      b.copy(conv_id = s"${b.conv_id}-$tag.$r")
    }.toVector
  }

  /** `n` draws with replacement from `base`. The first draw of a base turn
    * keeps its original key; later draws get a `~k` conv-id suffix. */
  def sample(base: Vector[Turn], n: Int, seed: Long): Vector[Turn] = {
    val rng = new scala.util.Random(seed)
    val seen = new Array[Int](base.length)
    Vector.fill(n) {
      val i = rng.nextInt(base.length)
      val k = seen(i)
      seen(i) += 1
      val b = base(i)
      if (k == 0) b else b.copy(conv_id = s"${b.conv_id}~$k")
    }
  }

  /** The conv id of the base turn a replica or draw was made from. */
  def originalConv(conv: String): String = {
    val i = conv.indexOf('~')
    if (i < 0) conv else conv.substring(0, i)
  }

  /** Turns spread evenly, in order, over `parts` partitions, persisted. */
  def persisted(spark: SparkSession, turns: Vector[Turn], parts: Int): Dataset[Turn] = {
    import spark.implicits._
    val ds = spark.createDataset(spark.sparkContext.parallelize(turns, parts)).persist()
    ds.count()
    ds
  }

  /** The documents table with its rows in seeded order, written as one
    * parquet file at `<dir>/documents.parquet` (the layout the
    * SparkEntry queries read). Returns the row count. */
  def permutedDocuments(spark: SparkSession, dataDir: String, dir: String, seed: Long): Long = {
    val out = s"$dir/documents.parquet"
    spark.read.parquet(s"$dataDir/documents.parquet")
      .orderBy(xxhash64(col("doc_id"), lit(seed)))
      .coalesce(1)
      .write.mode("overwrite").parquet(out)
    spark.read.parquet(out).count()
  }
}

package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import graft.scale.{Graph, Kmeans, Pq}
import graft.streaming.{PostingsIndex, PostingsStream}
import graft.write.VersionedTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `index_lifecycle`: three index families built at set-up over a seeded
  * base slice, then driven through a fixed cycle per round, one family
  * after the other (a fixed order, so the family that runs first after
  * set-up is the same under every seed):
  *
  *  - IVF-PQ (`Pq`): append, probe, delete, probe, compact;
  *  - PageRank over link-domain edges (`Graph.PageRankIndex`, string
  *    nodes with a hashed bucket key): append, top-n ranks, delete, ranks;
  *  - BM25 postings (`PostingsIndex`): append through the micro-batch
  *    sink (`PostingsStream.postingsSink`), bm25Serve, delete, bm25Serve,
  *    compact.
  *
  * Reads are the probes; writes are appends, deletes and compactions.
  * Probe outputs are checked as they come (only live ids, k rows); the
  * final served state of each family is checked against its law in
  * `finish` and by check.py.
  */
final class IndexLifecycle(spark: SparkSession, runDir: String, manifest: JsonNode,
                           rec: Recorder) extends Workload {
  private val in = s"$runDir/in"
  private val roundsInfo = manifest.get("rounds").asScala.toSeq
  private val K = 10
  private val PrIters = 3

  private var dir: String = _
  private var pqRoot: String = _
  private var pr: Graph.PageRankIndex = _
  private var post: PostingsIndex = _
  private var deadVec = Set.empty[Long]
  private var deadDoc = Set.empty[Long]
  private var deadNode = Set.empty[String]
  private var roundsRun = 0

  private val docSchema = spark.read.parquet(s"$in/doc_base.parquet").schema

  def rounds: Int = roundsInfo.size
  def roundSeconds: Double = 30.0

  private def read(name: String): DataFrame = spark.read.parquet(s"$in/$name.parquet")

  /** Hand one batch file to the postings feed and drain it through the
    * index's streaming sink (one micro-batch per file).
    */
  private def feed(src: String, seq: Int): Unit =
    Files.copy(Paths.get(src), Paths.get(f"$dir/feed/part-$seq%05d.parquet"),
      StandardCopyOption.REPLACE_EXISTING)

  private def drain(): Unit = {
    val docs = spark.readStream.schema(docSchema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/feed")
    PostingsStream.postingsSink(docs, post, s"$dir/ckpt").awaitTermination()
  }

  def setup(d: String): Unit = {
    dir = d
    pqRoot = s"$d/pq"
    deadVec = Set.empty; deadDoc = Set.empty; deadNode = Set.empty
    roundsRun = 0
    Files.createDirectories(Paths.get(s"$d/feed"))
    Pq.buildIvfPqIndex(read("vec_base").select("vec_id", "embedding"), pqRoot)
    pr = new Graph.PageRankIndex(spark, s"$d/pr", PrIters, 16,
      c => abs(hash(c)).cast("long"))
    pr.build(read("edge_base"))
    post = new PostingsIndex(spark, s"$d/post")
    feed(s"$in/doc_base.parquet", 0)
    drain()
  }

  private def ids(rows: Array[org.apache.spark.sql.Row]): Seq[Long] = rows.map(_.getLong(0)).toSeq

  def round(r: Int): Unit = {
    val rd = f"$in/round$r%03d"
    val info = roundsInfo(r)
    roundsRun = r + 1
    val terms = info.get("terms").asScala.map(_.asText()).toSeq
    def in1(name: String) = spark.read.parquet(s"$rd/$name.parquet")

    def pqFamily(): Unit = {
      val append = in1("vec_append").select("vec_id", "embedding")
      val delete = in1("vec_delete")
      val probe = in1("vec_probe")
      val probeOp = () => rec.op("pq.probe", "read", "pq") {
        val rows = rec.call("Pq.probeIvfPq")(Pq.probeIvfPq(spark, pqRoot, probe, K)
          .select("qid", "nid").collect())
        val nids = rows.map(_.getLong(1))
        Check(rows.nonEmpty && rows.length <= K * 8, s"probe returned ${rows.length} rows")
        Check(!nids.exists(deadVec), "probe served a deleted vector")
      }
      rec.op("pq.append", "write", "pq") {
        rec.call("Pq.appendToIvfPqIndex")(Pq.appendToIvfPqIndex(append, pqRoot))
      }
      probeOp()
      val dead = ids(delete.collect())
      rec.op("pq.delete", "write", "pq") {
        rec.call("Pq.deleteFromIvfPqIndex")(Pq.deleteFromIvfPqIndex(delete, pqRoot))
      }
      deadVec ++= dead
      probeOp()
      rec.op("pq.compact", "write", "pq") {
        rec.call("Pq.compactIvfPqIndex")(Pq.compactIvfPqIndex(spark, pqRoot))
      }
    }

    def prFamily(): Unit = {
      val append = in1("edge_append")
      val delete = in1("node_delete")
      val probeOp = () => rec.op("pr.ranks", "read", "pr") {
        val rows = rec.call("PageRankIndex.ranks")(pr.ranks(PrIters)
          .orderBy(col("rank").desc, col("node")).limit(K).collect())
        Check(rows.length == K, s"ranks returned ${rows.length} rows")
        Check(!rows.exists(x => deadNode(x.getString(0))), "ranks served a deleted node")
      }
      rec.op("pr.append", "write", "pr") {
        rec.call("PageRankIndex.append")(pr.append(append))
      }
      probeOp()
      val dead = delete.collect().map(_.getString(0))
      rec.op("pr.delete", "write", "pr") {
        rec.call("PageRankIndex.delete")(pr.delete(delete))
      }
      deadNode ++= dead
      probeOp()
    }

    def postFamily(): Unit = {
      val delete = in1("doc_delete")
      val probeOp = () => rec.op("post.bm25", "read", "post") {
        val rows = rec.call("PostingsIndex.bm25Serve")(post.bm25Serve(terms)
          .orderBy(col("score").desc, col("doc_id")).limit(K).collect())
        Check(rows.nonEmpty, "bm25 returned no rows")
        Check(!rows.exists(x => deadDoc(x.getAs[Long]("doc_id"))), "bm25 served a deleted doc")
      }
      feed(s"$rd/doc_append.parquet", r + 1)
      rec.op("post.append", "write", "post") {
        rec.call("PostingsStream.postingsSink")(drain())
      }
      probeOp()
      val dead = ids(delete.collect())
      rec.op("post.delete", "write", "post") {
        rec.call("PostingsIndex.delete")(post.delete(delete))
      }
      deadDoc ++= dead
      probeOp()
      rec.op("post.compact", "write", "post") {
        rec.call("PostingsIndex.compact")(post.compact())
      }
    }

    pqFamily()
    prFamily()
    postFamily()
  }

  /** The IVF-PQ law (as PqSpec states it): the served postings equal the
    * encode of the live vectors under the index's persisted models.
    */
  private def pqLaw(rounds: Int): (Boolean, String) = {
    def cents(name: String): Array[Array[Long]] =
      new VersionedTable(spark, s"$pqRoot/$name").read().select("cid", "cent").collect()
        .map(r => r.getInt(0) -> r.getSeq[Long](1).toArray).sortBy(_._1).map(_._2)
    val vecs = (read("vec_base") +: (0 until rounds).map(r =>
      spark.read.parquet(f"$in/round$r%03d/vec_append.parquet")))
      .map(_.select("vec_id", "embedding")).reduce(_.unionByName(_))
    val dead = (0 until rounds).map(r =>
      spark.read.parquet(f"$in/round$r%03d/vec_delete.parquet")).reduce(_.unionByName(_))
    val live = vecs.join(dead, Seq("vec_id"), "left_anti")
    val expected = Kmeans.assignNearest(Kmeans.quantizeGrid(live), cents("coarse"))
      .select(col("vec_id").as("nid"),
        Pq.pqCodesExpr(cents("book"), col("gcode")).as("codes"), col("cid"))
    val served = pqServed()
    val extra = served.exceptAll(expected).count()
    val missing = expected.exceptAll(served).count()
    (extra == 0 && missing == 0, s"served-not-expected=$extra expected-not-served=$missing")
  }

  private def pqServed(): DataFrame =
    new VersionedTable(spark, s"$pqRoot/postings").read()
      .join(Pq.pqTombstones(spark, pqRoot), Seq("nid"), "left_anti")
      .select("nid", "codes", "cid")

  def finish(out: String): Map[String, Any] = {
    val served = Seq(
      "pq" -> pqServed(),
      "pr" -> pr.ranks(PrIters).select("node", "rank"),
      "post" -> post.served().select("term", "doc_id", "tf"))
    served.foreach { case (n, df) => df.write.parquet(s"$out/$n") }
    val (pqOk, pqWhy) = pqLaw(roundsRun)
    Map(
      "live_bytes" -> served.map { case (n, _) => Main.parquetBytes(s"$out/$n") }.sum,
      "pq_law" -> Map("ok" -> pqOk, "detail" -> pqWhy),
      "graph" -> Map("scale" -> Graph.Scale, "base" -> Graph.Base,
        "damp_num" -> Graph.DampNum, "damp_den" -> Graph.DampDen, "iters" -> PrIters))
  }
}

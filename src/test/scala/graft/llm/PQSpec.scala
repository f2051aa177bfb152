package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PQSpec extends SparkSpec {

  test("PQ ANN: k results per query, contiguous ranks, cosine-valid scores") {
    val r = PQ.pqAnn(spark, sf).cache()
    val perQ = r.groupBy("q_id").agg(
      count(lit(1)).as("n"), min("rnk").as("mn"), max("rnk").as("mx"))
    assert(perQ.filter(col("n") =!= 5 || col("mn") =!= 1 || col("mx") =!= 5).count() == 0)
    // both the exact rerank score and the ADC score are true cosines
    // (query vs stored vector / query vs reconstruction)
    assert(r.filter(col("sim") < -1.0 || col("sim") > 1.0).count() == 0)
    assert(r.filter(col("adc") < -1.0 || col("adc") > 1.0).count() == 0)
    // rerank order: sim is non-increasing in rnk within each query
    // (k·queries rows — a driver-side check, not a data-scale collect)
    r.select("q_id", "rnk", "sim").collect()
      .groupBy(_.getLong(0)).values.foreach { rows =>
        val sims = rows.sortBy(_.getLong(1)).map(_.getDouble(2))
        assert(sims.zip(sims.tail).forall { case (a, b) => a >= b },
          s"rerank must order by exact sim descending: ${sims.mkString(",")}")
      }
  }

  test("codebooks: SubSpaces books of at most Codes codewords, SubDim wide") {
    val m = PQ.fit(graft.model.Tables.embeddings(spark, sf))
    assert(m.books.length == PQ.SubSpaces)
    m.books.foreach { book =>
      assert(book.nonEmpty && book.length <= PQ.Codes)
      book.foreach(c => assert(c.length == PQ.SubDim))
    }
  }

  test("training is partitioning-invariant: same codebooks at any layout") {
    val emb = graft.model.Tables.embeddings(spark, sf)
    val a = PQ.fit(emb)
    val b = PQ.fit(emb.repartition(7))
    assert(a.books.flatten.flatten == b.books.flatten.flatten,
      "codebooks must not depend on the input partitioning")
  }

  test("IVF×PQ: k results per query, pruning is a subset of the PQ scan") {
    val r = PQ.ivfPqAnn(spark, sf).cache()
    val perQ = r.groupBy("q_id").agg(
      count(lit(1)).as("n"), min("rnk").as("mn"), max("rnk").as("mx"))
    assert(perQ.filter(col("n") =!= 5 || col("mn") =!= 1 || col("mx") =!= 5).count() == 0)
    assert(r.filter(col("sim") < -1.0 || col("sim") > 1.0).count() == 0)
    // every returned neighbor's cell must be one of the query's probe
    // cells — i.e. the pruning really restricted the candidate set
    val cells = r.select("cell").distinct().collect().map(_.getLong(0))
    assert(cells.forall(c => c >= 0 && c < graft.llm.Pipeline.IvfCells))
  }

  test("residual IVF×PQ: k results per query, probed cells only, sane sims") {
    val r = PQ.ivfRpqAnn(spark, sf).cache()
    val perQ = r.groupBy("q_id").agg(
      count(lit(1)).as("n"), min("rnk").as("mn"), max("rnk").as("mx"))
    assert(perQ.filter(col("n") =!= 5 || col("mn") =!= 1 || col("mx") =!= 5).count() == 0)
    assert(r.filter(col("sim") < -1.0 || col("sim") > 1.0).count() == 0)
    val cells = r.select("cell").distinct().collect().map(_.getLong(0))
    assert(cells.forall(c => c >= 0 && c < graft.llm.Pipeline.IvfCells))
  }

  test("planted-neighbor recall certifies the residual-coded index") {
    // a planted vector shares its anchor's coarse cell, so its residual
    // is eps-close to the anchor's residual, encodes to the same codes,
    // and must ride the ADC shortlist through to the exact rerank
    val r = Similarity.plantedIvfRpqRecall(spark, sf).cache()
    val mean = r.agg(avg("recall")).head.getDouble(0)
    info(s"planted residual IVF×PQ recall mean = $mean")
    assert(mean >= 0.9, s"planted residual recall $mean below the bound")
  }

  test("planted-neighbor recall certifies the composed IVF×PQ index") {
    // eps-planted vectors land in their anchor's coarse cell AND encode
    // to its codes, so they survive both the probe and the shortlist
    val r = Similarity.plantedIvfPqRecall(spark, sf).cache()
    val mean = r.agg(avg("recall")).head.getDouble(0)
    info(s"planted IVF×PQ recall mean = $mean")
    assert(mean >= 0.9, s"planted IVF×PQ recall $mean below the certification bound")
  }

  test("planted-neighbor recall certifies the compressed index") {
    // planted vectors sit 2^-14-close to their anchors — deep inside a
    // quantization cell, so they encode to the anchor's codes and ride
    // the ADC shortlist; the exact rerank then scores them ~0.9994
    val r = Similarity.plantedPqRecall(spark, sf).cache()
    assert(r.filter(col("n_exact") =!= 5).count() == 0)
    val mean = r.agg(avg("recall")).head.getDouble(0)
    info(s"planted PQ recall mean = $mean")
    assert(mean >= 0.9, s"planted PQ recall $mean below the certification bound")
  }

  test("streamed IVF×PQ index equals the batch build and serves q160 unchanged") {
    val emb = graft.model.Tables.embeddings(spark, sf)
    // the deployment split: quantizers FROZEN from a snapshot; ingests
    // encode row-locally against them
    val coarse = KMeans.fitOf(emb, Pipeline.IvfCells, Pipeline.IvfIters)
    val books = PQ.fit(emb)
    val dir = graft.TestDirs.dir("graft-ivfpq-art").toString
    val art = PQ.streamedIndexArtifact(dir, coarse, books)
    // three arrival batches partitioning the corpus by vec_id band
    val n = emb.agg(max("vec_id")).head.getLong(0)
    val cuts = Seq(0L, n / 3, 2 * n / 3, n + 1)
    cuts.sliding(2).zipWithIndex.foreach { case (Seq(lo, hi), i) =>
      art.applyBatch(emb.filter(col("vec_id") >= lo && col("vec_id") < hi), i.toLong)
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.toString).toSeq
    // streamed union == the batch index projection, bit-exact
    assert(rows(art.serve(spark)) == rows(PQ.indexRows(emb, coarse, books)),
      "streamed IVF×PQ index diverged from the batch build")
    // the full q160 route served from the STREAMED store equals the
    // batch-memoized route
    val fromStream = rows(PQ.ivfPqServe(emb, art.serve(spark), coarse, books,
      k = 5, depth = PQ.Shortlist, nprobe = Pipeline.IvfProbe))
    val fromBatch = rows(PQ.ivfPqAnn(spark, sf))
    assert(fromStream == fromBatch, "q160 served from the streamed index diverged")
    // compaction preserves the row-partitioned index
    val before = rows(art.serve(spark))
    art.compact(spark)
    assert(rows(art.serve(spark)) == before)
  }
}

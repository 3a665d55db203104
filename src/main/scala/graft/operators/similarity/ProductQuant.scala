package graft.operators.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.expressions.Sketches

/** Product quantization (PQ) for approximate nearest-neighbor search —
  * the memory-compression scale path of the ANN family (complementing
  * [[CosineSearch.lshTopK]]'s bucket pruning and [[CosineSearch.ivfTopK]]'s
  * cell pruning): each vector is encoded as m sub-space code indices, so a
  * 64×4-byte embedding becomes m bytes of codes and query scoring reads
  * codes + a per-query lookup table instead of raw vectors. At 100 TB the
  * encoded corpus is ~64× smaller than the float vectors — the difference
  * between an in-memory scan and a disk-bound one. (Jégou et al., "Product
  * Quantization for Nearest Neighbor Search", TPAMI 2011.)
  *
  * Scale shape: the codebook is an m×ksub×dsub literal in the task
  * closure (kilobytes); encoding is ONE codegen'd projection over the
  * corpus (m independent argmins of ksub quantized L2 scores — no join,
  * no shuffle); search broadcasts the (small) query set with a
  * per-query LUT of round(dot(q_j, cent) · 1e6) longs, and per-pair
  * work is m array lookups + an integer sum — no float math per
  * candidate at all. The integer LUT terms make scores
  * bit-reproducible across engines regardless of summation order.
  *
  * Determinism: the codebook derives from the ksub lowest-id corpus rows
  * (the same stand-in convention as [[CosineSearch.ivfTopK]]; training a
  * real codebook per sub-space is [[KMeans.fit]] run m times offline).
  * Sub-space argmin compares e6-quantized scores with ties to the lower
  * code, so encodings are engine-portable and an SQL oracle matches
  * bit-exactly.
  */
object ProductQuant {

  /** codebook(j)(c) = sub-space j's c-th centroid (dsub doubles), taken
    * from the ksub lowest-id corpus vectors.
    */
  def codebook(corpus: DataFrame, m: Int, ksub: Int, idCol: String = "id",
      embCol: String = "embedding"): Array[Array[Array[Double]]] = {
    val seeds = KMeans.seedCentroids(corpus, ksub, idCol, embCol)
    val dim = seeds.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val dsub = dim / m
    Array.tabulate(m)(j => seeds.map(_.slice(j * dsub, (j + 1) * dsub)))
  }

  /** Encode the corpus: (id, codes array<int> of length m) via the
    * one-pass native [[graft.expressions.PqEncode]] (the composed
    * sort_array-of-rounded-dots form compiles m·ksub subtrees per row —
    * identical output, 64× the generated code). One projection; at scale
    * this output IS the stored index.
    */
  def encode(corpus: DataFrame, cb: Array[Array[Array[Double]]],
      idCol: String = "id", embCol: String = "embedding"): DataFrame =
    corpus.select(col(idCol).as("id"),
      Sketches.pqEncode(col(embCol).cast("array<double>"), cb).as("codes"))

  /** Two-stage PQ search (the production IVFADC-style shape): stage 1
    * retrieves each query's `rerank` best candidates by asymmetric
    * distance — the encoded corpus scored against a per-query integer LUT,
    * no float math per pair — and stage 2 re-ranks ONLY those candidates
    * with the exact cosine, so the expensive float path touches
    * queries·rerank rows instead of the corpus. Returns
    * (qid, rank, id, sim_e6) with the exact similarity, like
    * [[CosineSearch.bruteForce]] — the approximation affects WHICH
    * candidates are seen, never the reported score.
    *
    * At 100 TB: stage 1 reads only the m-byte codes (the stored index);
    * stage 2 fetches `rerank` full vectors per query by id — a selective
    * broadcast join against the vector store, not a scan.
    */
  def search(queries: DataFrame, corpus: DataFrame, k: Int, m: Int = 4,
      ksub: Int = 16, rerank: Int = 50, qidCol: String = "qid",
      idCol: String = "id", embCol: String = "embedding"): DataFrame = {
    val cb = codebook(corpus, m, ksub, idCol, embCol)
    val enc = encode(corpus, cb, idCol, embCol)
    val qv = col(embCol).cast("array<double>")
    // per-query LUT: lut[j*ksub + c] = round(⟨q_j, cent_jc⟩ · 1e6), built
    // by the one-pass native PqLut
    val q = queries.select(col(qidCol).as("qid"),
      Sketches.pqLut(qv, cb).as("lut"),
      qv.as("qv"), sqrt(Sketches.dotProduct(qv, qv)).as("qv_n"))
    val cand = adcTopCandidates(
      enc.crossJoin(broadcast(q.select("qid", "lut"))), m, ksub, rerank)
    rerankExact(cand, corpus, q, k, idCol, embCol)
  }

  /** IVF-PQ: coarse cell pruning COMPOSED with code-based scoring — the
    * full production ANN shape (FAISS IVFADC, Jégou et al. §V): stage 0
    * prunes to each query's `nprobe` nearest cells (scanning
    * ~nprobe/nlist of the index), stage 1 ADC-scores only those cells'
    * m-byte codes, stage 2 re-ranks the `rerank` survivors with the
    * exact cosine. [[CosineSearch.ivfTopK]] prunes cells but reads float
    * vectors; [[search]] reads codes but scans every row; this reads
    * codes AND skips cells — at 100 TB the scan cost drops ~64× from
    * codes and another nlist/nprobe from pruning, multiplicatively.
    *
    * Codes quantize the RAW vector, not the cell residual (FAISS
    * `by_residual=false`): dot-product ADC stays a single LUT sum and
    * the same stored codes serve every cell — the residual variant buys
    * accuracy at small nlist but couples codes to the coarse quantizer.
    * Like [[search]], the approximation affects WHICH candidates are
    * seen, never the reported exact `sim_e6`.
    */
  def ivfPqSearch(queries: DataFrame, corpus: DataFrame, k: Int,
      nlist: Int = 16, nprobe: Int = 4, m: Int = 4, ksub: Int = 16,
      rerank: Int = 50, qidCol: String = "qid", idCol: String = "id",
      embCol: String = "embedding"): DataFrame = {
    val cents = KMeans.seedCentroids(corpus, nlist, idCol, embCol)
    val cb = codebook(corpus, m, ksub, idCol, embCol)
    val cv = col(embCol).cast("array<double>")
    // (cell, codes) in ONE projection
    val enc = corpus.select(col(idCol).as("id"),
      CosineSearch.cellOf(cents, cv)
        .as("cell"),
      Sketches.pqEncode(cv, cb).as("codes"))
    val qv = col(embCol).cast("array<double>")
    val q = queries.select(col(qidCol).as("qid"),
      Sketches.pqLut(qv, cb).as("lut"),
      qv.as("qv"), sqrt(Sketches.dotProduct(qv, qv)).as("qv_n"),
      CosineSearch.probeCells(cents, qv, nprobe).as("cells"))
    // each corpus row lives in exactly ONE cell, so multi-probe never
    // duplicates a candidate — no distinct needed
    val probe = q.select(col("qid"), col("lut"),
      explode(col("cells")).as("cell"))
    val cand = adcTopCandidates(
      enc.join(broadcast(probe), Seq("cell")), m, ksub, rerank)
    rerankExact(cand, corpus, q, k, idCol, embCol)
  }

  /** Stage 1: ADC top-`rerank` per query over (qid, lut, id, codes) rows.
    * The score is a sum of integer LUT terms — order-insensitive, so
    * bit-reproducible across engines.
    */
  private def adcTopCandidates(scored: DataFrame, m: Int, ksub: Int,
      rerank: Int): DataFrame = {
    val adc = (0 until m).map(j =>
      element_at(col("lut"), element_at(col("codes"), j + 1) + lit(j * ksub + 1)))
      .reduce(_ + _)
    val wAdc = Window.partitionBy("qid").orderBy(desc("adc_e6"), asc("id"))
    scored
      .where(col("qid") =!= col("id"))
      .select(col("qid"), col("id"), adc.as("adc_e6"))
      .withColumn("arank", row_number().over(wAdc))
      .where(col("arank") <= rerank)
      .select("qid", "id")
  }

  /** Stage 2: exact cosine over queries·rerank candidate rows only —
    * the expensive float path never touches the full corpus.
    */
  private def rerankExact(cand: DataFrame, corpus: DataFrame, q: DataFrame,
      k: Int, idCol: String, embCol: String): DataFrame = {
    val cvec = corpus.select(col(idCol).as("id"),
      col(embCol).cast("array<double>").as("cv"),
      sqrt(Sketches.dotProduct(col(embCol).cast("array<double>"),
        col(embCol).cast("array<double>"))).as("cv_n"))
    val simE6 = round(Sketches.dotProduct(col("qv"), col("cv")) /
      (col("qv_n") * col("cv_n")) * 1e6).cast("long")
    val wK = Window.partitionBy("qid").orderBy(desc("sim_e6"), asc("id"))
    cand.join(cvec, "id")
      .join(broadcast(q.select(col("qid"), col("qv"), col("qv_n"))), "qid")
      .select(col("qid"), col("id"), simE6.as("sim_e6"))
      .withColumn("rank", row_number().over(wK))
      .where(col("rank") <= k)
      .select(col("qid"), col("rank"), col("id"), col("sim_e6"))
  }
}

package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic scale-up generator (dev harness, not driver contract):
  * replicates the sf0.1 corpus N× with consistent key remapping so the
  * full 97-query oracle sweep and bench can run at sf1 (the driver ships
  * sf0.001/0.01/0.1 only — VERDICT r4 "Next round" #1 asks for an sf1
  * validation pass).
  *
  * Scheme: copy c ∈ [0, N) offsets every key column by c × |table| (keys
  * are 0-based dense in the source), so ALL foreign-key relationships hold
  * per copy (customer↔orders↔lineitem↔part/supplier, events.user_id ↔
  * c_custkey−1). region/nation stay fixed (TPC-H semantics). Three
  * columns are perturbed per copy to keep the scaled corpus honest:
  *
  *  - `documents.text` (copies > 0): every 3rd word gets a copy-tagged
  *    suffix. Any 3 consecutive words contain one, so NO word-3-gram
  *    shingle survives between copies — scaled near-dup structure is 10×
  *    the per-copy structure, not an artificial cross-copy quadratic
  *    blow-up of exact-duplicate pairs.
  *  - `embeddings.embedding` (copies > 0): fresh unit vectors from a
  *    splitmix64 stream seeded by (vec_id, copy) — random 64-dim unit
  *    vectors essentially never exceed the near-dup cosine threshold, so
  *    pair outputs scale linearly, while top-k/IVF queries see a real 10×
  *    corpus.
  *  - `events.ts` is normalized to standard TIMESTAMP micros via
  *    `Q.normalizeEventTs`, whichever of the three source encodings the
  *    driver corpus currently ships (INT64 nanos via the legacy conf,
  *    TIMESTAMP_NTZ micros since the round-6 regeneration, or already-LTZ
  *    micros) — `Q.events` accepts all three.
  */
object GenScale {

  private def splitmix64(x0: Long): Long = {
    var z = x0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("target/testdata/sf1")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    // Optional 4th arg: comma-separated table subset. The sf100 store
    // probes (VERDICT r13 #4) need only documents + embeddings — scaling
    // lineitem 1000× would be ~20 GB of parquet no query reads.
    val only: Option[Set[String]] =
      args.lift(3).map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    def wanted(t: String): Boolean = only.forall(_.contains(t))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus)
    import spark.implicits._

    def read(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def write(df: DataFrame, t: String): Unit = if (wanted(t)) {
      df.write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"[genscale] $t: ${spark.read.parquet(s"$dst/$t.parquet").count()} rows")
    }

    // fixed-size dims pass through
    Seq("region", "nation").filter(wanted).foreach(t => write(read(t), t))

    val copyIdx = spark.range(copies).select(col("id").as("__c"))
    // source key domains are 0-based dense; offsets = source cardinalities
    val nCust = read("customer").count()
    val nOrd = read("orders").count()
    val nPart = read("part").count()
    val nSupp = read("supplier").count()
    val nDoc = read("documents").count()
    val nVec = read("embeddings").count()
    val nEv = read("events").count()

    def scaled(t: String)(remap: DataFrame => DataFrame): Unit = {
      val base = read(t).crossJoin(copyIdx)
      write(remap(base).drop("__c"), t)
    }

    scaled("customer")(_.withColumn("c_custkey", col("c_custkey") + col("__c") * nCust))
    scaled("orders")(
      _.withColumn("o_orderkey", col("o_orderkey") + col("__c") * nOrd)
        .withColumn("o_custkey", col("o_custkey") + col("__c") * nCust)
    )
    scaled("lineitem")(
      _.withColumn("l_orderkey", col("l_orderkey") + col("__c") * nOrd)
        .withColumn("l_partkey", col("l_partkey") + col("__c") * nPart)
        .withColumn("l_suppkey", col("l_suppkey") + col("__c") * nSupp)
    )
    scaled("part")(_.withColumn("p_partkey", col("p_partkey") + col("__c") * nPart))
    scaled("supplier")(_.withColumn("s_suppkey", col("s_suppkey") + col("__c") * nSupp))

    // events: normalize ts to TIMESTAMP micros whatever the source
    // encoding (nanos-long / NTZ / LTZ) — same dispatch as Q.events
    scaled("events") { df =>
      graft.queries.Q.normalizeEventTs(df)
        .withColumn("event_id", col("event_id") + col("__c") * nEv)
        .withColumn("user_id", col("user_id") + col("__c") * nCust)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
    }

    // documents: per-copy word suffixing kills cross-copy shingle overlap
    val docs = read("documents")
      .select("doc_id", "text", "lang", "source")
      .as[(Long, String, String, String)]
      .flatMap { case (id, text, lang, source) =>
        (0 until copies).map { c =>
          val t =
            if (c == 0) text
            else
              text
                .split(" ")
                .zipWithIndex
                .map { case (w, i) => if (i % 3 == 0) s"${w}_$c" else w }
                .mkString(" ")
          (id + c * nDoc, t, lang, source, t.length.toLong)
        }
      }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    write(docs, "documents")

    // embeddings: fresh deterministic unit vectors for copies > 0
    val embs = read("embeddings")
      .select("vec_id", "embedding", "label")
      .as[(Long, Array[Float], Int)]
      .flatMap { case (id, v, label) =>
        (0 until copies).map { c =>
          if (c == 0) (id, v, label)
          else {
            val arr = new Array[Double](v.length)
            var s = splitmix64(id * 1000003L + c)
            var norm = 0.0
            var j = 0
            while (j < arr.length) {
              s = splitmix64(s)
              val u = (s >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
              arr(j) = u
              norm += u * u
              j += 1
            }
            val inv = 1.0 / math.sqrt(norm)
            (id + c * nVec, arr.map(x => (x * inv).toFloat), label)
          }
        }
      }
      .toDF("vec_id", "embedding", "label")
    write(embs, "embeddings")

    println(s"[genscale] wrote ${copies}x corpus to $dst")
    spark.stop()
  }
}

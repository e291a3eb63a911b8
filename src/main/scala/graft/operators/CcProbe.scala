package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Over-cap connected-components ladder (SCALING.md's distributed-CC
  * rows): derives a REAL duplicate graph — the banded-LSH candidate
  * pipeline over a corpus whose docs are replicated `k` times (exact
  * duplicate cliques of size k, the crawl-mirror shape) — and, when
  * the thresholded edge set exceeds the driver union-find cap, runs
  * and times every CC arm on the SAME checkpointed edges:
  *
  *   - min-label propagation (the automatic distributed arm), with
  *     its round count and star-fallback flag;
  *   - large-star/small-star contraction (the high-diameter arm);
  *   - the driver union-find with a raised cap (the answer the cap
  *     normally routes small graphs to), for the crossover row.
  *
  * All three must agree (vertex count / component count / comp-sum
  * checksum — printed). Lives in `package graft.operators` for access
  * to the instrumented internals; the public entry stays capped.
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *     sbt "runMain graft.operators.CcProbe 14 7"
  *
  * Each argument is one replication factor k (a ladder step); edge
  * count grows as docs x C(k,2).
  */
object CcProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-cc-probe")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val ks = (if (args.nonEmpty) args.toSeq else Seq("14")).map(_.toInt)
    val base = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).localCheckpoint()
    println(s"corpus $sfDir base_docs=${base.count()}")

    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }
    def checksum(comp: DataFrame): (Long, Long, Long) = {
      val r = comp.agg(count(lit(1)), countDistinct(col("comp")),
        sum(col("comp") % 1000003L)).collect()(0)
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }

    ks.foreach { k =>
      // k exact replicas per doc, ids offset per replica — every
      // replica pair collides in every LSH band (est_jaccard 1.0)
      val docs = base.crossJoin(
          spark.range(0, k).toDF("rep").hint("broadcast"))
        .select((col("doc_id") + col("rep") * 10000000000L).as("doc_id"),
          col("text"))
      val (edges, tEdges) = time {
        val e = Dedup.nearDupCandidates(docs, minJaccard = 0.3)
          .filter(col("est_jaccard") >= Dedup2.ClusterThreshold)
          .select(col("a_id"), col("b_id"))
          .localCheckpoint()
        e.count()
        e
      }
      // the EXACT-FIRST edge build over the same replicated corpus:
      // byte-identical replicas collapse before the banded join, so the
      // quadratic machinery sees only distinct texts — timed against
      // the raw build above, and its components must agree (the star
      // re-expansion is lossless)
      val (xfEdges, tXf) = time {
        val e = Dedup.nearDupEdgesExactFirst(docs, minJaccard = 0.3)
          .filter(col("est_jaccard") >= Dedup2.ClusterThreshold)
          .select(col("a_id"), col("b_id"))
          .localCheckpoint()
        e.count()
        e
      }
      val nEdges = edges.count()
      val overCap = nEdges > Dedup2.DriverCcMaxEdges
      println(f"k=$k%2d docs=${base.count() * k}%8d edges=$nEdges%9d " +
        f"edge_build=$tEdges%7.1fs over_cap=$overCap " +
        f"(cap=${Dedup2.DriverCcMaxEdges})")
      println(f"  exact-first: edges=${xfEdges.count()}%9d " +
        f"edge_build=$tXf%7.1fs (star re-expansion of exact groups)")

      val ((prop, pRounds, pFellBack), tProp) =
        time(Dedup2.connectedComponentsInstrumented(edges))
      val pSum = checksum(prop)
      println(f"  propagation : $tProp%7.1fs rounds=$pRounds%2d " +
        f"star_fallback=$pFellBack (vertices,comps,sum)=$pSum")

      val ((star, sRounds), tStar) = time(Dedup2.starContract(edges))
      val sSum = checksum(star)
      println(f"  star        : $tStar%7.1fs rounds=$sRounds%2d " +
        f"(vertices,comps,sum)=$sSum")

      val (drv, tDrv) = time {
        val d = Dedup2.connectedComponentsDriver(edges).localCheckpoint()
        d.count(); d
      }
      val dSum = checksum(drv)
      println(f"  driver-uf   : $tDrv%7.1fs " +
        f"(vertices,comps,sum)=$dSum")
      // components from the exact-first edges must MATCH the raw arms'
      // (vertices, comps, min-id label sum) — the losslessness witness
      // at ladder scale, on top of the dd_cluster_xf oracle row
      val (xf, tXfCc) = time {
        val d = Dedup2.connectedComponentsDriver(xfEdges).localCheckpoint()
        d.count(); d
      }
      val xSum = checksum(xf)
      println(f"  xf-cc       : $tXfCc%7.1fs (vertices,comps,sum)=$xSum")
      val agree = pSum == sSum && sSum == dSum && dSum == xSum
      println(s"  agree=$agree")
      require(agree, "CC arms disagree!")
      Seq(edges, xfEdges, prop, star, drv, xf)
        .foreach(Artifacts.freeLocalCheckpoint)
    }
    spark.stop()
  }
}

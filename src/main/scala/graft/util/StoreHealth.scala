package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}

/** ONE health surface for every persisted store — the round-10 verdict's
  * unification item: the inverted index, LM count tables, IVF vector
  * store, span/paragraph presence indexes, head cache, and snapshot store
  * each accrete maintenance debt in one of exactly two shapes, and this
  * object reports all of them as ONE row schema and drives all their
  * compactors behind one call:
  *
  *   - '''layered''' stores (the exactly-once ingest discipline): every
  *     append lands a `layer=*` partition; debt = delta layers above the
  *     base, because every layer is one more file set per scan and one
  *     more summand in the read-side merges.
  *   - '''flat''' presence stores (span/paragraph windows): appends are
  *     idempotent distinct-row files; debt = the data-file count, because
  *     the per-file open cost is the only thing that grows.
  *
  * Row shape: (store, n_layers, n_files, debt_metric, debt,
  * compact_recommended). Layer identities come from ONE listing of each
  * member's `layer=N` partition directories, counting a layer only when
  * its data files hold rows (parquet footers — no data pages read, no
  * Spark job); file counts from [[Fs.countParquetFiles]] — the single
  * listing API an object-store binding swaps out. Every directory
  * resolves through [[DirSwap]], so the report always reads the
  * published generation, and both reports return a local relation.
  *
  * The generic contract the StoreHealthSpec drives per store:
  * accrete (appends raise debt) → recommend (threshold fires) →
  * [[maintainAll]] (the store's own compactor, behind DirSwap) → clear
  * (the same report stops recommending), reads row-identical throughout
  * (each store's own law spec pins the read identity; this surface pins
  * the OPERATIONAL loop).
  */
object StoreHealth {

  /** A maintainable store: its root, which sub-directories are
    * layer-keyed vs flat, the fire thresholds, and its compactor.
    */
  final case class Store(
      name: String,
      root: String,
      layeredDirs: Seq[String] = Seq.empty,
      flatDirs: Seq[String] = Seq.empty,
      compactOverLayers: Long = 8L,
      compactOverFiles: Long = 32L,
      compact: SparkSession => Unit = _ => ()
  )

  private def liveDir(root: String, sub: String): String =
    DirSwap.resolve(root, sub)

  /** One health row per store, computed from store METADATA only, sorted
    * by store name on the driver: no Spark job.
    */
  def healthAll(spark: SparkSession, stores: Seq[Store]): DataFrame = {
    import spark.implicits._
    healthRows(spark, stores)
      .map(_._2)
      .sortBy(_._1)
      .toDF(
        "store",
        "n_layers",
        "n_files",
        "debt_metric",
        "debt",
        "compact_recommended"
      )
  }

  /** The per-store health tuples IN REGISTRY ORDER — shared by
    * [[healthAll]] (one row shape) and [[maintainAll]] (which pairs each
    * fire decision with ITS store positionally: two registry stores may
    * share a name, so a name-keyed map could drive the wrong compactor).
    */
  private def healthRows(
      spark: SparkSession,
      stores: Seq[Store]
  ): Seq[(Store, (String, Long, Long, String, Long, Boolean))] = {
    stores.foreach { st =>
      (st.layeredDirs ++ st.flatDirs).foreach(DirSwap.repair(st.root, _))
    }
    stores.map { st =>
      // a member directory can be absent (optional, e.g. a frequency-only
      // index's positions) or hold no rows yet — both contribute no layers
      val nLayers = (st.layeredDirs.map(sub => layerCount(spark, liveDir(st.root, sub))) :+ 1L).max
      val nFiles = (st.layeredDirs ++ st.flatDirs)
        .map(sub => Fs.countParquetFiles(liveDir(st.root, sub)))
        .sum
      val (metric, debt, fire) =
        if (st.layeredDirs.nonEmpty)
          ("delta_layers", nLayers - 1L, nLayers > st.compactOverLayers)
        else ("data_files", nFiles, nFiles > st.compactOverFiles)
      st -> ((st.name, nLayers, nFiles, metric, debt, fire))
    }
  }

  /** The distinct `layer=N` values of a member's partition directories
    * (at any depth, e.g. under `wb=*` or `cid=*`) whose data files hold at
    * least one row — the layers a read of the member sees. Hidden entries
    * (`.layer-N-old-*` aside copies, `_SUCCESS`) are skipped as Spark
    * skips them.
    */
  private def layerCount(spark: SparkSession, member: String): Long = {
    def hidden(n: String) = n.startsWith(".") || (n.startsWith("_") && !n.contains("="))
    def files(loc: String, layer: Option[Long]): Seq[(Long, String)] =
      Blob.children(loc).flatMap { c =>
        val n = Loc.name(c)
        if (hidden(n)) Nil
        else if (n.contains("="))
          files(c, if (n.startsWith("layer=")) n.stripPrefix("layer=").toLongOption else layer)
        else if (n.endsWith(".parquet")) layer.map(_ -> c)
        else Nil
      }
    files(member, None)
      .groupBy(_._1)
      .count(_._2.exists { case (_, f) => rowCount(spark, f) > 0 })
      .toLong
  }

  /** A parquet file's row count from its footer. */
  private def rowCount(spark: SparkSession, loc: String): Long = {
    val in =
      if (Loc.hasScheme(loc))
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(loc), spark.sparkContext.hadoopConfiguration)
      else new org.apache.parquet.io.LocalInputFile(java.nio.file.Paths.get(loc))
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try reader.getRecordCount
    finally reader.close()
  }

  /** Runs every recommended store's compactor (each already publishes
    * behind [[DirSwap]]/its protocol), returning (store, compacted) —
    * the single maintenance entry point a deployment schedules between
    * batches. Stores below threshold are left untouched: compaction is
    * not free (it rewrites the base), so the debt threshold IS the
    * policy.
    */
  def maintainAll(spark: SparkSession, stores: Seq[Store]): DataFrame = {
    import spark.implicits._
    healthRows(spark, stores)
      .map { case (st, (_, _, _, _, _, due)) =>
        if (due) st.compact(spark)
        (st.name, due)
      }
      .sortBy(_._1)
      .toDF("store", "compacted")
  }
}

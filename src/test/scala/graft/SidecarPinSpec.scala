package graft

import org.apache.spark.sql.functions.{col, xxhash64}

import graft.operators.TmpDirs
import graft.serve.QueryService
import graft.sources.SegmentedStore

/** The dense sidecars a bulk load writes are pinned row for row: a
  * fixed-seed multi-tenant corpus goes through
  * `QueryService.ingestBatch` into a fresh store, and every sidecar
  * table of the base generation must hash to the same row count and
  * row-hash sum as the reference build. A faster build path (sampling,
  * encode and assign kernels, write layout) may change how the rows
  * are computed, never which rows land. The schema each stored table
  * writes (names, types, nullability) is pinned too, for the base, a
  * delta segment and a fold. */
class SidecarPinSpec extends SparkSpec {

  /** (rows, wrapping sum of xxhash64 over every column, partition
    * columns included) per table — order-free, so file layout and
    * task split do not enter. */
  private val Pinned: Map[String, (Long, Long)] = Map(
    "pq" -> ((810L, 7047543861058112320L)),
    "pq_codebook" -> ((2048L, -5810477795089060234L)),
    "pq_centroids" -> ((16L, 7122743890452015965L)),
    "ann" -> ((6480L, 2982095968736744272L)),
    "quantized" -> ((810L, 4686659511527935732L)),
    "hnsw" -> ((7L, -7736070077931985138L)))

  /** Schema each stored table writes into its file footers, the same
    * for the base and a delta segment. A load with a hinted
    * schema relies on these staying equal, and a nullability flip
    * changes the written bytes. */
  private val PinnedSchemas: Map[String, String] = Map(
    "chunks" -> ("struct<id:string,document_id:string,text:string,chunk_index:int not null," +
      "page_number:int,char_start:int,char_end:int,token_count:int,level:string," +
      "parent_id:string,section_title:string,section_number:string,workspace_id:string," +
      "collection_id:string,access_level:string,document_type:string,filename:string," +
      "element_type:string,quality_level:string,chunk_strategy:string," +
      "metadata:map<string,string>,embedding:array<double>>"),
    "ann" -> "struct<id:string,vec:array<double>,tbl:bigint not null,bucket:bigint not null>",
    "quantized" -> "struct<id:string,codes:array<tinyint>,scale:double>",
    "pq" -> "struct<id:string,codes:array<tinyint not null>>",
    "hnsw" -> ("struct<pid:int not null,dim:int not null,sids:array<string>,vecs:binary," +
      "levels:array<int not null>,adj:array<array<array<int not null>>>,entry:int not null>"),
    "postings" -> "struct<id:string,dl:int,term:string not null,tf:bigint not null,term_blk:bigint>")

  /** A fold writes rows read back from the folded dirs, which Spark
    * reads as nullable: the same schemas with every field nullable. */
  private val PinnedFoldSchemas: Map[String, String] =
    PinnedSchemas.map { case (t, s) => t -> s.replace(" not null", "") }

  /** 120 documents over 7 tenants with Zipf-ish tenant sizes, built
    * from a seeded word stream (seed 9001). */
  private def corpus: Seq[(String, String, String)] = {
    val rnd = new scala.util.Random(9001)
    for (i <- 1 to 120) yield {
      val org = s"org_${1 + (rnd.nextInt(28) match {
        case x if x < 10 => 0
        case x if x < 16 => 1
        case x if x < 20 => 2
        case x if x < 23 => 3
        case x if x < 25 => 4
        case x if x < 27 => 5
        case _ => 6
      })}"
      val paras = (1 to 1 + rnd.nextInt(3)).map { p =>
        val n = 12 + rnd.nextInt(40)
        s"## Part $p\n\n" + (1 to n).map(_ => Words(rnd.nextInt(Words.size))).mkString(" ") + "."
      }
      (s"doc_$i.md", s"# Document $i\n\n" + paras.mkString("\n\n"), org)
    }
  }

  /** Sidecars of the first delta segment written over [[corpus]]'s
    * base, each delta being [[deltaDocs]]. */
  private val PinnedSegment: Map[String, (Long, Long)] = Map(
    "pq" -> ((12L, 5025625025571238842L)),
    "ann" -> ((96L, -3803239971566531635L)),
    "quantized" -> ((12L, -3776879978667276725L)),
    "hnsw" -> ((3L, 1793801726033884863L)))

  /** Sidecars of the segment that folds the [[PinnedSegment]] store's
    * MaxSegments deltas plus one more. */
  private val PinnedFold: Map[String, (Long, Long)] = Map(
    "pq" -> ((108L, 5234590140685487933L)),
    "ann" -> ((864L, 7724027669977464051L)),
    "quantized" -> ((108L, 4238428560261561944L)),
    "hnsw" -> ((10L, -449995755929769273L)))

  /** Delta `i`: three documents over three of [[corpus]]'s tenants,
    * from a seeded word stream (seed 9100 + i). */
  private def deltaDocs(i: Int): Seq[(String, String, String)] = {
    val rnd = new scala.util.Random(9100 + i)
    for (j <- 1 to 3) yield {
      val text = (1 to 20 + rnd.nextInt(30))
        .map(_ => Words(rnd.nextInt(Words.size))).mkString(" ")
      (s"delta_${i}_$j.md", s"# Delta $i.$j\n\n$text.", s"org_${1 + (i + j) % 7}")
    }
  }

  private val Words = Vector("ledger", "audit", "invoice", "archive", "storage",
    "policy", "retrieval", "index", "tenant", "quarter", "revenue",
    "contract", "schedule", "vendor", "payment", "backup", "cluster",
    "latency", "budget", "forecast", "review", "summary", "release",
    "migration", "compliance", "report", "network", "customer")

  /** (rows, hash sum) of each of `tables` under one store dir. */
  private def hashes(dir: String, tables: Iterable[String]): Map[String, (Long, Long)] =
    tables.map { table =>
      val df = spark.read.parquet(s"$dir/$table")
      val hs = df.select(xxhash64(df.columns.sorted.map(col): _*)).collect().map(_.getLong(0))
      table -> ((hs.length.toLong, hs.foldLeft(0L)(_ + _)))
    }.toMap

  /** Spark schema (names, types, nullability) written into the footers
    * of each of `tables` under one store dir; every file of a table
    * must carry the same one. */
  private def schemas(dir: String, tables: Seq[String]): Map[String, String] = {
    val conf = spark.sessionState.newHadoopConf()
    tables.map { table =>
      val path = new org.apache.hadoop.fs.Path(s"$dir/$table")
      val fs = path.getFileSystem(conf)
      val files = fs.listFiles(path, true)
      val found = scala.collection.mutable.LinkedHashSet.empty[String]
      while (files.hasNext) {
        val f = files.next().getPath
        if (f.getName.endsWith(".parquet")) {
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf))
          try found += r.getFooter.getFileMetaData.getKeyValueMetaData
            .get("org.apache.spark.sql.parquet.row.metadata")
          finally r.close()
        }
      }
      assert(found.size == 1, s"$dir/$table: ${found.size} distinct file schemas")
      table -> render(org.apache.spark.sql.types.DataType.fromJson(found.head))
    }.toMap
  }

  /** `simpleString` with every non-nullable field and element marked. */
  private def render(t: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    def req(nullable: Boolean) = if (nullable) "" else " not null"
    t match {
      case s: StructType =>
        s.fields.map(f => s"${f.name}:${render(f.dataType)}${req(f.nullable)}")
          .mkString("struct<", ",", ">")
      case a: ArrayType => s"array<${render(a.elementType)}${req(a.containsNull)}>"
      case m: MapType =>
        s"map<${render(m.keyType)},${render(m.valueType)}${req(m.valueContainsNull)}>"
      case o => o.simpleString
    }
  }

  private def assertPinned(what: String, got: Map[String, (Long, Long)],
                           pinned: Map[String, (Long, Long)]): Unit = {
    val diff = pinned.keys.toSeq.sorted.filter(t => got(t) != pinned(t))
    assert(diff.isEmpty,
      diff.map(t => s"$what $t: got ${got(t)}, pinned ${pinned(t)}").mkString("\n"))
  }

  private def assertSchemas(what: String, dir: String,
                            pinned: Map[String, String] = PinnedSchemas): Unit = {
    val got = schemas(dir, pinned.keys.toSeq.sorted)
    val diff = got.keys.toSeq.sorted.filter(t => got(t) != pinned(t))
    assert(diff.isEmpty,
      diff.map(t => s"$what $t: got ${got(t)}, pinned ${pinned(t)}").mkString("\n"))
  }

  test("bulk-load sidecars hash row for row to the pinned reference build") {
    import spark.implicits._
    val root = TmpDirs.create("graft_sidecar_pin")
    val svc = new QueryService(spark, root)
    svc.ingestBatch(corpus.toDF("filename", "text", "organization_id"))
    val m = SegmentedStore.readManifest(root).get
    assert(m.segments.isEmpty, s"a first ingest writes a base generation: $m")
    assertPinned("base", hashes(s"$root/${m.base}", Pinned.keys), Pinned)
    assertSchemas("base", s"$root/${m.base}")
  }

  test("delta segment and fold sidecars hash row for row to the pinned reference build") {
    import spark.implicits._
    val root = TmpDirs.create("graft_sidecar_pin_delta")
    val svc = new QueryService(spark, root)
    svc.ingestBatch(corpus.toDF("filename", "text", "organization_id"))
    for (i <- 1 to SegmentedStore.MaxSegments)
      svc.ingestBatch(deltaDocs(i).toDF("filename", "text", "organization_id"))
    val m = SegmentedStore.readManifest(root).get
    assert(m.segments.size == SegmentedStore.MaxSegments, s"one segment per delta: $m")
    val segment = hashes(s"$root/${m.segments.head}", PinnedSegment.keys)
    assertSchemas("segment", s"$root/${m.segments.head}")
    svc.ingestBatch(deltaDocs(SegmentedStore.MaxSegments + 1)
      .toDF("filename", "text", "organization_id"))
    val f = SegmentedStore.readManifest(root).get
    assert(f.base == m.base && f.segments.size == 1, s"a minor fold of every segment: $f")
    val fold = hashes(s"$root/${f.segments.head}", PinnedFold.keys)
    assertSchemas("fold", s"$root/${f.segments.head}", PinnedFoldSchemas)
    assertPinned("segment", segment, PinnedSegment)
    assertPinned("fold", fold, PinnedFold)
  }
}

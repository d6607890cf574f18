package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.CRC32

/** SplitMix64. The stream is fixed by this arithmetic alone, so one seed
  * names the same inputs on every JVM and platform. */
final class Rng(seed: Long) {
  private var s = seed * 0x2545F4914F6CDD1DL + 0x1234567L
  def nextLong(): Long = {
    s += 0x9E3779B97F4A7C15L
    var z = s
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def nextInt(n: Int): Int = ((nextLong() >>> 1) % n).toInt
  def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
  /** Rank in [0, n) with weight about 1/(rank+1): log-uniform, i.e. Zipf(1). */
  def zipf(n: Int): Int =
    math.min(n - 1, StrictMath.exp(nextDouble() * StrictMath.log(n.toDouble + 1)).toInt - 1)
  def shuffle[T](a: Array[T]): Unit = {
    var i = a.length - 1
    while (i > 0) { val j = nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
  }
}

/** Seeded input generators. Each writes plain text files (the only thing
  * the engine is given besides its configs) and returns the answers its
  * own arithmetic implies, which the benchmark checks outputs against. */
object Gen {

  def crc(s: String): Long = { val c = new CRC32; c.update(s.getBytes(UTF_8)); c.getValue }

  def write(f: File)(body: (String => Unit) => Unit): Unit = {
    f.getParentFile.mkdirs()
    val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f), UTF_8), 1 << 16)
    try body(line => { w.write(line); w.write('\n') }) finally w.close()
  }

  private val Words = Array("alpha", "bravo", "delta", "ember", "fjord", "gale", "harbor",
    "iris", "jade", "kelp", "lumen", "maple", "nova", "orbit", "prism", "quartz", "river",
    "sable", "tundra", "umber", "vale", "willow", "xenon", "yarrow", "zephyr")

  // ------------------------------------------------------------ ingest_upsert

  /** Expected target table after a load: id -> checksum of the columns the
    * pipeline derives (see [[Workloads.IngestUpsert.checksumSql]]). */
  final case class IngestBatch(file: File, rows: Long, expected: Array[(Long, Long)])
  final case class Ingest(customers: File, products: File, noProducts: File,
                          base: IngestBatch, batches: IndexedSeq[IngestBatch])

  final case class IngestSize(customers: Int, products: Int, descWords: Int,
                              baseRows: Int, batchRows: Int, batches: Int)

  val Channels = Array("web", "store", "phone", "partner")

  def ingest(dir: File, seed: Long, sz: IngestSize): Ingest = {
    val rng = new Rng(seed ^ 0x1A2B3C4DL)
    val customers = new File(dir, "customers.csv")
    write(customers) { out =>
      out("cust_id,cust_name,segment")
      var c = 0
      while (c < sz.customers) { out(s"$c,cust$c,${"ABCD".charAt(rng.nextInt(4))}"); c += 1 }
    }
    // the product catalog carries long descriptions, so its file (and the
    // engine's size estimate) sits above the 64 MiB broadcast budget
    val category = new Array[String](sz.products)
    val listPrice = new Array[Int](sz.products)
    val products = new File(dir, "products.csv")
    write(products) { out =>
      out("prod_id,prod_name,category,list_price,description")
      val sb = new java.lang.StringBuilder
      var p = 0
      while (p < sz.products) {
        category(p) = "cat" + rng.nextInt(60)
        listPrice(p) = 100 + rng.nextInt(99900)
        sb.setLength(0)
        var w = 0
        while (w < sz.descWords) {
          if (w > 0) sb.append(' ')
          sb.append(Words(rng.nextInt(Words.length))).append(rng.nextInt(1000)); w += 1
        }
        out(s"$p,prod$p,${category(p)},${listPrice(p)},$sb")
        p += 1
      }
    }
    // ids: the base load owns [0, baseRows); each batch updates a random
    // slice of existing ids and inserts fresh ones, unique within a batch
    var nextNew = sz.baseRows.toLong
    def batch(name: String, ids: Array[Long], catalogue: Boolean = true): IngestBatch = {
      val f = new File(dir, name)
      val exp = Array.newBuilder[(Long, Long)]
      write(f) { out =>
        out("id,cust_id,prod_id,qty,unit_cents,channel")
        ids.foreach { id =>
          // ~2% of foreign keys point past the dimension: unresolved
          val cust = if (rng.nextInt(50) == 0) sz.customers + rng.nextInt(1000)
                     else rng.zipf(sz.customers)
          val prod = if (rng.nextInt(50) == 0) sz.products + rng.nextInt(1000)
                     else rng.zipf(sz.products)
          val qty = rng.nextInt(21) // qty 0 rows are skipped by the pipeline
          val unit = 50 + rng.nextInt(20000)
          val ch = Channels(rng.nextInt(Channels.length))
          out(s"$id,$cust,$prod,$qty,$unit,$ch")
          if (qty != 0) {
            val link = if (cust < sz.customers) cust.toString else "-"
            val (cat, lp) = if (catalogue && prod < sz.products) (category(prod), listPrice(prod).toString)
                            else ("-", "-")
            exp += id -> crc(s"$id|$qty|${qty * unit}|${ch.toUpperCase}|$link|$cat|$lp")
          }
        }
      }
      IngestBatch(f, ids.length.toLong, exp.result())
    }
    // the base load runs before the catalogue is known: an empty products file
    val noProducts = new File(dir, "products_empty.csv")
    write(noProducts)(out => out("prod_id,prod_name,category,list_price,description"))
    val base = batch("base.csv", Array.tabulate(sz.baseRows)(_.toLong), catalogue = false)
    val batches = (0 until sz.batches).map { b =>
      val ids = new Array[Long](sz.batchRows)
      val seen = new java.util.HashSet[java.lang.Long]()
      var i = 0
      while (i < sz.batchRows * 3 / 10) { // 30% updates
        val id = rng.nextInt(sz.baseRows).toLong
        if (seen.add(id)) { ids(i) = id; i += 1 }
      }
      while (i < sz.batchRows) { ids(i) = nextNew; nextNew += 1; i += 1 }
      rng.shuffle(ids)
      batch(s"batch$b.csv", ids)
    }
    Ingest(customers, products, noProducts, base, batches)
  }

  // ------------------------------------------------------------- config_burst

  final case class Item(id: Int, grp: Int, v: Int, name: String)
  final case class Burst(items: IndexedSeq[Item], groups: Int, csv: File, json: File,
                         groupsCsv: File)

  def burst(dir: File, seed: Long, rows: Int, groups: Int): Burst = {
    val rng = new Rng(seed ^ 0x5EED5L)
    // grp ranges past the groups table so link/merge leave some unresolved
    val items = (0 until rows).map(i =>
      Item(i, rng.zipf(groups + groups / 4), rng.nextInt(1000),
        Words(rng.nextInt(Words.length)) + "_" + rng.nextInt(100)))
    val csv = new File(dir, "items.csv")
    write(csv) { out =>
      out("id,grp,v,name")
      items.foreach(it => out(s"${it.id},${it.grp},${it.v},${it.name}"))
    }
    val json = new File(dir, "items.json")
    write(json) { out =>
      out("[")
      items.zipWithIndex.foreach { case (it, i) =>
        out(s"""{"id": ${it.id}, "grp": ${it.grp}, "v": ${it.v}, "name": "${it.name}"}""" +
          (if (i + 1 < items.size) "," else ""))
      }
      out("]")
    }
    val groupsCsv = new File(dir, "groups.csv")
    write(groupsCsv) { out =>
      out("grp,grp_name,weight")
      (0 until groups).foreach(g => out(s"$g,group$g,${1 + rng.nextInt(9)}"))
    }
    Burst(items, groups, csv, json, groupsCsv)
  }

  // ----------------------------------------------------------- graph_fixpoint

  /** Planted chain components. `labelSum` is the sum over vertices of
    * crc("id>label"), label = the chain's minimum id. */
  final case class Graph(edges: File, vertices: File, nEdges: Long, nVertices: Long,
                         nComponents: Long, labelSum: Long)

  def graph(dir: File, seed: Long, targetEdges: Int, chainLengths: Seq[Int]): Graph = {
    val rng = new Rng(seed ^ 0x6A09E667L)
    // chains of each length in turn until the edge budget is spent
    val lens = Iterator.continually(chainLengths).flatten
      .scanLeft((0, 0)) { case ((_, total), l) => (l, total + l - 1) }
      .drop(1).takeWhile(_._2 <= targetEdges).map(_._1).toArray
    val nV = lens.sum
    val ids = Array.tabulate(nV)(i => i)
    rng.shuffle(ids) // which ids form which chain is random
    // the order of ids along a chain follows one fixed shuffle per length,
    // not the seed: chains of a length then need the same number of rounds
    // whatever the seed, and the minimum sits mid-chain as with random ids
    val order = chainLengths.distinct.map { l =>
      val a = Array.tabulate(l)(i => i); new Rng(l).shuffle(a); l -> a }.toMap
    val edges = new Array[String](nV - lens.length)
    var labelSum = 0L
    var pos = 0
    var e = 0
    lens.foreach { l =>
      java.util.Arrays.sort(ids, pos, pos + l)
      val mn = ids(pos)
      val chain = order(l).map(r => ids(pos + r))
      var k = 0
      while (k < l) {
        labelSum += crc(f"v${chain(k)}%08d>v$mn%08d")
        if (k > 0) {
          val (a, b) = (chain(k - 1), chain(k))
          edges(e) = if (rng.nextInt(2) == 0) f"v$a%08d,v$b%08d" else f"v$b%08d,v$a%08d"
          e += 1
        }
        k += 1
      }
      pos += l
    }
    rng.shuffle(edges)
    val edgesF = new File(dir, "edges.csv")
    write(edgesF) { out => out("src,dst"); edges.foreach(out) }
    val verticesF = new File(dir, "vertices.csv")
    write(verticesF) { out => out("vid"); (0 until nV).foreach(v => out(f"v$v%08d")) }
    Graph(edgesF, verticesF, edges.length.toLong, nV.toLong, lens.length.toLong, labelSum)
  }

  // --------------------------------------------------------------- text_dedup

  /** Zipf-token corpus; every doc with id % 100 == 1 is a planted near-dup
    * of doc id-1 (same tokens, other casing and spacing, one extra token).
    * Keepers are all other ids: their count, id sum and crc(id) sum. */
  final case class Text(docs: File, nDocs: Long, keepers: Long, keeperIdSum: Long,
                        keeperCrcSum: Long)

  def text(dir: File, seed: Long, nDocs: Int, vocab: Int): Text = {
    val rng = new Rng(seed ^ 0x3C6EF372L)
    val f = new File(dir, "docs.csv")
    var keepers, idSum, crcSum = 0L
    write(f) { out =>
      out("doc_id,text")
      val sb = new java.lang.StringBuilder
      var prev: Array[Int] = null
      var id = 0
      while (id < nDocs) {
        sb.setLength(0)
        if (id % 100 == 1 && prev != null) {
          // the partner: upper-cased, doubled spaces, one extra token
          prev.foreach(t => sb.append('W').append(t).append("  "))
          sb.append("TAIL").append(id)
        } else {
          val len = 40 + rng.nextInt(160)
          prev = Array.fill(len)(rng.zipf(vocab))
          var k = 0
          while (k < len) { if (k > 0) sb.append(' '); sb.append('w').append(prev(k)); k += 1 }
          keepers += 1; idSum += id; crcSum += crc(id.toString)
        }
        out(s"$id,$sb")
        id += 1
      }
    }
    Text(f, nDocs.toLong, keepers, idSum, crcSum)
  }
}

package graftbench

import com.github.luben.zstd.ZstdOutputStream
import org.apache.commons.compress.archivers.tar.{TarArchiveEntry, TarArchiveOutputStream}
import org.apache.commons.compress.archivers.zip.{ZipArchiveEntry, ZipArchiveOutputStream}
import org.apache.commons.compress.compressors.bzip2.BZip2CompressorOutputStream
import org.tukaani.xz.{LZMA2Options, XZOutputStream}

import java.io._
import java.nio.ByteBuffer
import java.nio.charset.{CodingErrorAction, StandardCharsets}
import java.security.MessageDigest
import java.util.Random
import java.util.concurrent.{Executors, TimeUnit}
import scala.collection.mutable.ArrayBuffer

/** One entry of the manifest: what a correct walk of `input` must emit. */
final case class ManifestEntry(input: String, path: String, size: Long, sha256: String,
    utf8: Boolean, nested: Boolean)

final case class Corpus(dir: File, entries: IndexedSeq[ManifestEntry]) {
  def inputDir: File = new File(dir, "inputs")
  def inputs: Seq[String] =
    entries.map(_.input).distinct.sorted.map(n => new File(inputDir, n).getAbsolutePath)
  def bytes: Long = entries.iterator.map(_.size).sum
}

/** Seeded corpus that mimics a container-image layer: mostly small
  * compressible text, some partly compressible medium binaries, a few
  * large incompressible blobs, about 15% exact-duplicate contents under
  * other paths, nested archives (tar in tar.gz, zip in tar, tar.gz in
  * zip) and outer codecs gzip / zstd / xz / bzip2.
  *
  * Everything is a pure function of (seed, total bytes): each input is
  * generated from its own Random, every tar/zip header carries fixed
  * times and owners, and the decompressed total is exactly `totalBytes`
  * for every seed, so throughput compares across seeds.
  */
object Corpus {
  val Inputs = 24
  /** Bump when the generator's output changes, so no stale cache is used. */
  val Version = 2
  private val KeepCached = 8
  val MinText = 200
  val MaxText = 64 * 1024
  private val FixedTimeMs = 1700000000000L
  private val PopularPool = 160

  /** Load the corpus for (seed, totalBytes) under `root`, generating it
    * first when it is not there yet. Returns the corpus and whether it
    * came from the cache.
    */
  def ensure(root: File, seed: Long, totalBytes: Long, threads: Int): (Corpus, Boolean) = {
    val dir = new File(root, s"v${Version}_s${seed}_b$totalBytes")
    val done = new File(dir, "done")
    if (done.isFile) (load(dir), true)
    else {
      deleteTree(dir)
      generate(dir, seed, totalBytes, threads)
      new FileOutputStream(done).close()
      // keep the most recently generated corpora only
      Option(root.listFiles()).toSeq.flatten.filter(_.isDirectory)
        .sortBy(d => -new File(d, "done").lastModified()).drop(KeepCached).foreach(deleteTree)
      (load(dir), false)
    }
  }

  def load(dir: File): Corpus = {
    val src = scala.io.Source.fromFile(new File(dir, "manifest.tsv"), "UTF-8")
    try {
      val rows = src.getLines().drop(1).map { line =>
        val f = line.split("\t", -1)
        ManifestEntry(f(0), f(1), f(2).toLong, f(3), f(4) == "1", f(5) == "1")
      }.toIndexedSeq
      Corpus(dir, rows)
    } finally src.close()
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  // ---- plan --------------------------------------------------------------

  private sealed trait Codec { def ext: String }
  private case object Gz extends Codec { val ext = "tar.gz" }
  private case object Zst extends Codec { val ext = "tar.zst" }
  private case object Xz extends Codec { val ext = "tar.xz" }
  private case object Bz2 extends Codec { val ext = "tar.bz2" }

  private sealed trait Nesting
  private case object Flat extends Nesting
  private case object TarInTar extends Nesting
  private case object ZipInTar extends Nesting // and a tar.gz inside that zip

  private final case class InputPlan(index: Int, codec: Codec, nesting: Nesting,
      budget: Long, blobs: Seq[Long]) {
    def name: String = f"layer_$index%02d.${codec.ext}"
  }

  /** The corpus's shape is fixed for a given size, so its cost does not
    * depend on the seed: the codec, nesting and share of bytes of every
    * input, and where the large blobs sit. The seed picks the entries
    * that fill each input and their contents. */
  private def plan(totalBytes: Long): Seq[InputPlan] = {
    val codecs = (0 until Inputs).map {
      case 5 => Bz2
      case 11 | 17 => Xz
      case 2 | 8 | 14 | 20 => Zst
      case _ => Gz
    }
    val nestings = (0 until Inputs).map(i => if (i % 4 == 1) TarInTar else if (i % 4 == 3) ZipInTar else Flat)
    // large incompressible blobs, 1-4 MiB each, ~28% of the bytes, only
    // in the fast codecs (a 4 MiB blob under bzip2 would be the whole run)
    val sizes = Iterator.from(0).map(j => (1L << 20) + (j * 5 % 7) * (1L << 19))
    val blobs = ArrayBuffer.empty[Long]
    while (blobs.sum < totalBytes * 28 / 100) blobs += sizes.next()
    val fast = codecs.indices.filter(i => codecs(i) == Gz || codecs(i) == Zst)
    val blobAt = blobs.zipWithIndex.map { case (b, j) => fast(j * 5 % fast.size) -> b }
    val rest = totalBytes - blobs.sum
    val weights = codecs.map(c => if (c == Gz || c == Zst) 1.0 else 0.3)
    val budgets = weights.map(w => (rest * w / weights.sum).toLong).toArray
    budgets(budgets.length - 1) += rest - budgets.sum
    codecs.indices.map { i =>
      InputPlan(i, codecs(i), nestings(i), budgets(i), blobAt.collect { case (`i`, b) => b }.toSeq)
    }
  }

  // ---- contents ------------------------------------------------------------

  private val TopDirs = Seq("usr/lib/python3/site-packages", "usr/share/doc", "etc", "app/src",
    "app/config", "opt/service/static", "srv/www", "var/lib/data", "home/user/projects", "usr/include")
  private val TextExts = Seq("py", "js", "go", "c", "h", "conf", "yaml", "json", "md", "txt", "sh", "xml", "html")
  private val BinExts = Seq("so", "bin", "o", "pyc", "dat", "db")
  private val Words = ("import return def class const let var func if else for while switch case " +
    "package struct interface public private static void int string bool true false null none " +
    "server client config value key path name version build test main util http request response " +
    "error handler context buffer stream reader writer index table query cache record entry data " +
    "user admin token session timeout retry limit offset count total size hash archive layer " +
    "café naïve über résumé 数据 配置 ファイル").split(' ')
  private val DirWords = Words.filter(_.forall(_ < 128))

  private final case class Content(bytes: Array[Byte], ext: String)

  private def mix(seed: Long, id: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + id
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def logUniform(rnd: Random, lo: Long, hi: Long): Long =
    math.exp(math.log(lo.toDouble) + rnd.nextDouble() * (math.log(hi.toDouble) - math.log(lo.toDouble))).toLong

  private def text(rnd: Random, size: Int, ext: String): Array[Byte] = {
    val sb = new java.lang.StringBuilder(size + 64)
    val out = new ByteArrayOutputStream(size + 64)
    while (out.size() < size) {
      sb.setLength(0)
      val indent = rnd.nextInt(4) * 2
      (0 until indent).foreach(_ => sb.append(' '))
      ext match {
        case "json" => sb.append("\"").append(Words(rnd.nextInt(Words.length))).append("\": ")
            .append(rnd.nextInt(100000)).append(",")
        case "yaml" | "conf" => sb.append(Words(rnd.nextInt(Words.length))).append(": ")
            .append(Words(rnd.nextInt(Words.length)))
        case _ =>
          val n = 2 + rnd.nextInt(9)
          (0 until n).foreach { k =>
            if (k > 0) sb.append(if (rnd.nextInt(5) == 0) "(" else " ")
            sb.append(Words(rnd.nextInt(Words.length)))
            if (rnd.nextInt(7) == 0) sb.append('_').append(rnd.nextInt(1000))
          }
      }
      sb.append('\n')
      out.write(sb.toString.getBytes(StandardCharsets.UTF_8))
    }
    java.util.Arrays.copyOf(out.toByteArray, size)
  }

  /** Partly compressible: random stretches between structured records. */
  private def binary(rnd: Random, size: Int): Array[Byte] = {
    val b = new Array[Byte](size)
    var i = 0
    while (i < size) {
      val n = math.min(size - i, 256 + rnd.nextInt(4096))
      if (rnd.nextBoolean()) {
        val chunk = new Array[Byte](n); rnd.nextBytes(chunk)
        System.arraycopy(chunk, 0, b, i, n)
      } else {
        val rec = new Array[Byte](16); rnd.nextBytes(rec)
        var k = 0
        while (k < n) { b(i + k) = rec(k & 15); k += 1 }
      }
      i += n
    }
    stampBinary(b)
  }

  private def blob(rnd: Random, size: Int): Array[Byte] = {
    val b = new Array[Byte](size); rnd.nextBytes(b); stampBinary(b)
  }

  /** A fixed leading tag, so no random bytes ever sniff as a codec,
    * container or executable magic. */
  private def stampBinary(b: Array[Byte]): Array[Byte] = {
    val tag = Array[Byte](0, 'B', 'I', 'N')
    System.arraycopy(tag, 0, b, 0, math.min(tag.length, b.length)); b
  }

  /** The popular contents (a shared license, a vendored lib, ...) that
    * reappear under other paths: a pure function of (seed, id). */
  private def popular(seed: Long, id: Int): Content = {
    val rnd = new Random(mix(seed, -1L - id))
    if (rnd.nextInt(10) == 0)
      Content(binary(rnd, logUniform(rnd, 16 << 10, 256 << 10).toInt), BinExts(rnd.nextInt(BinExts.size)))
    else {
      val ext = TextExts(rnd.nextInt(TextExts.size))
      Content(text(rnd, logUniform(rnd, MinText, MaxText).toInt, ext), ext)
    }
  }

  // ---- archives ------------------------------------------------------------

  private final class Member(val path: String, val bytes: Array[Byte], val archive: Boolean)

  /** Fill `budget` bytes with entries; returns members and manifest rows. */
  private def fill(rnd: Random, seed: Long, budget: Long, prefix: String,
      nested: Boolean, tag: String, blobs: Seq[Long], input: String,
      manifest: ArrayBuffer[ManifestEntry]): ArrayBuffer[Member] = {
    val members = ArrayBuffer.empty[Member]
    var left = budget
    var j = 0
    def add(c: Content): Unit = {
      val dir = TopDirs(rnd.nextInt(TopDirs.size)) + "/" + DirWords(rnd.nextInt(DirWords.length))
      val name = s"$dir/${tag}_$j.${c.ext}"
      members += new Member(name, c.bytes, archive = false)
      manifest += ManifestEntry(input, prefix + name, c.bytes.length, sha256Hex(c.bytes),
        isUtf8(c.bytes), nested)
      left -= c.bytes.length
      j += 1
    }
    blobs.foreach(b => add(Content(blob(rnd, b.toInt), "img")))
    while (left > 0) {
      val roll = rnd.nextDouble()
      val c =
        if (roll < 0.17) {
          val p = popular(seed, rnd.nextInt(PopularPool))
          if (p.bytes.length <= left) p else null
        } else if (roll < 0.19) {
          val s = math.min(left, logUniform(rnd, 16 << 10, 512 << 10)).toInt
          Content(binary(rnd, s), BinExts(rnd.nextInt(BinExts.size)))
        } else null
      if (c != null) add(c)
      else {
        val ext = TextExts(rnd.nextInt(TextExts.size))
        val want = logUniform(rnd, MinText, MaxText)
        // the last entry takes what is left, so every input's total is exact
        val s = if (left - want < MinText) left else want
        add(Content(text(rnd, s.toInt, ext), ext))
      }
    }
    members
  }

  private def tarBytes(members: Seq[Member]): Array[Byte] = {
    val buf = new ByteArrayOutputStream()
    writeTar(buf, members); buf.toByteArray
  }

  private def writeTar(out: OutputStream, members: Seq[Member]): Unit = {
    val tar = new TarArchiveOutputStream(out)
    tar.setLongFileMode(TarArchiveOutputStream.LONGFILE_POSIX)
    members.foreach { m =>
      val e = new TarArchiveEntry(m.path)
      e.setSize(m.bytes.length.toLong)
      e.setModTime(FixedTimeMs)
      e.setMode(0x1a4) // 0644
      e.setUserName("root"); e.setGroupName("root"); e.setUserId(0); e.setGroupId(0)
      tar.putArchiveEntry(e); tar.write(m.bytes); tar.closeArchiveEntry()
    }
    tar.finish()
    tar.flush()
  }

  private def zipBytes(members: Seq[Member]): Array[Byte] = {
    val buf = new ByteArrayOutputStream()
    val zip = new ZipArchiveOutputStream(buf)
    members.foreach { m =>
      val e = new ZipArchiveEntry(m.path)
      e.setTime(FixedTimeMs)
      zip.putArchiveEntry(e); zip.write(m.bytes); zip.closeArchiveEntry()
    }
    zip.close(); buf.toByteArray
  }

  private def gzipBytes(b: Array[Byte]): Array[Byte] = {
    val buf = new ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(buf)
    gz.write(b); gz.close(); buf.toByteArray
  }

  private def generateInput(dir: File, seed: Long, p: InputPlan): Seq[ManifestEntry] = {
    val rnd = new Random(mix(seed, p.index.toLong))
    val manifest = ArrayBuffer.empty[ManifestEntry]
    val inner = p.nesting match { case Flat => 0L; case _ => p.budget * 3 / 10 }
    val top = fill(rnd, seed, p.budget - inner + p.blobs.sum, "", nested = false, "f", p.blobs, p.name, manifest)
    p.nesting match {
      case Flat =>
      case TarInTar =>
        val at = "var/cache/layers/inner.tar"
        val ms = fill(rnd, seed, inner, at + "/", nested = true, "t", Nil, p.name, manifest)
        top += new Member(at, tarBytes(ms.toSeq), archive = true)
      case ZipInTar =>
        val at = "opt/bundles/bundle.zip"
        val deep = "pkg/vendor.tar.gz"
        val zipped = fill(rnd, seed, inner / 2, at + "/", nested = true, "z", Nil, p.name, manifest)
        val tgz = fill(rnd, seed, inner - inner / 2, s"$at/$deep/", nested = true, "g", Nil, p.name, manifest)
        zipped += new Member(deep, gzipBytes(tarBytes(tgz.toSeq)), archive = true)
        top += new Member(at, zipBytes(zipped.toSeq), archive = true)
    }
    val file = new File(dir, p.name)
    val fos = new BufferedOutputStream(new FileOutputStream(file), 1 << 16)
    val out: OutputStream = p.codec match {
      case Gz => new java.util.zip.GZIPOutputStream(fos, 1 << 16)
      case Zst => new ZstdOutputStream(fos, 3)
      case Xz => new XZOutputStream(fos, new LZMA2Options(1))
      case Bz2 => new BZip2CompressorOutputStream(fos, 9)
    }
    try writeTar(out, top.toSeq) finally out.close()
    manifest.toSeq
  }

  /** Write `dir/inputs/<archives>` and `dir/manifest.tsv`; at most
    * `threads` inputs are built at once. */
  def generate(dir: File, seed: Long, totalBytes: Long, threads: Int): Unit = {
    val inputs = new File(dir, "inputs")
    inputs.mkdirs()
    val plans = plan(totalBytes)
    val pool = Executors.newFixedThreadPool(math.max(1, math.min(threads, plans.size)))
    val rows =
      try {
        val fs = plans.map(p => pool.submit(() => generateInput(inputs, seed, p)))
        fs.flatMap(_.get())
      } finally { pool.shutdown(); pool.awaitTermination(1, TimeUnit.MINUTES) }
    val w = new PrintWriter(new OutputStreamWriter(new FileOutputStream(new File(dir, "manifest.tsv")), "UTF-8"))
    try {
      w.print(s"input\tpath\tsize\tsha256\tutf8\tnested\n")
      rows.foreach(r => w.print(
        s"${r.input}\t${r.path}\t${r.size}\t${r.sha256}\t${if (r.utf8) 1 else 0}\t${if (r.nested) 1 else 0}\n"))
    } finally w.close()
  }

  def sha256Hex(b: Array[Byte]): String = hex(MessageDigest.getInstance("SHA-256").digest(b))

  def hex(b: Array[Byte]): String = {
    val sb = new java.lang.StringBuilder(b.length * 2)
    b.foreach(x => sb.append(Character.forDigit((x >> 4) & 15, 16)).append(Character.forDigit(x & 15, 16)))
    sb.toString
  }

  def isUtf8(b: Array[Byte]): Boolean =
    try {
      StandardCharsets.UTF_8.newDecoder()
        .onMalformedInput(CodingErrorAction.REPORT)
        .onUnmappableCharacter(CodingErrorAction.REPORT)
        .decode(ByteBuffer.wrap(b))
      true
    } catch { case _: java.nio.charset.CharacterCodingException => false }
}

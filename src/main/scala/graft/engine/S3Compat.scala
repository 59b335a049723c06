package graft.engine

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, InputStream}
import java.net.{HttpURLConnection, URI, URL}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FSInputStream, FileStatus, FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** S3-protocol Hadoop FileSystem for `s3a://` URIs — the ingest-from-S3
  * surface the reference exercises in
  * clients/cmdline/test-cases/runs3tests.sh (URLs like
  * `s3://my-bucket/file.csv` against an S3-compatible endpoint,
  * dbinfo-s3.expected pins the resulting catalog rows). The sandbox
  * ships no hadoop-aws/AWS-SDK jars, so this is a self-contained
  * client for the PUBLIC S3 REST protocol (path-style GET / HEAD /
  * ListObjectsV2 / PUT / DELETE — docs.aws.amazon.com/AmazonS3/latest/
  * API), registered per-session via `fs.s3a.impl`; the endpoint comes
  * from the standard `fs.s3a.endpoint` key. Reads are RANGE requests
  * (seek = one `Range: bytes=pos-` reopen), so parquet footer-first
  * access and partitioned scans work without buffering objects — the
  * same shape S3AInputStream uses at 100 TB. When the standard
  * `fs.s3a.access.key`/`fs.s3a.secret.key` keys are set, every request
  * carries an AWS SigV4 Authorization header (`SigV4.signRequest`,
  * region from `fs.s3a.endpoint.region`, default us-east-1) — the
  * credentialed ingest surface the reference drives through its aws
  * package (Lagoon/Ingest.hs:542-547). Unset keys mean unsigned
  * requests against open endpoints, as before.
  *
  * Config is resolved PER BUCKET first — `fs.s3a.bucket.<name>.<suffix>`
  * overrides the global `fs.s3a.<suffix>` for endpoint/credentials/
  * region, the same override scheme hadoop-aws documents for S3A. This
  * is what makes concurrent callers safe on one shared Hadoop
  * configuration: two jobs talking to different buckets each write only
  * their own `fs.s3a.bucket.<name>.*` keys and never race on a global
  * endpoint or secret (the r18 im21/im23 bench race).
  */
class S3CompatFileSystem extends FileSystem {
  private var fsUri: URI = _
  private var bucket: String = _
  private var endpoint: String = _
  private var workDir: Path = _
  private var creds: Option[(String, String)] = None
  private var region: String = "us-east-1"

  override def initialize(uri: URI, conf: Configuration): Unit = {
    super.initialize(uri, conf)
    setConf(conf)
    fsUri = URI.create(s"${uri.getScheme}://${uri.getAuthority}")
    bucket = uri.getAuthority
    // per-bucket key wins; global key is the fallback
    def resolved(suffix: String, default: String = ""): String = {
      val b = conf.getTrimmed(S3CompatFileSystem.bucketKey(bucket, suffix), "")
      if (b.nonEmpty) b else conf.getTrimmed(s"fs.s3a.$suffix", default)
    }
    endpoint = resolved("endpoint")
    require(endpoint.nonEmpty,
      s"fs.s3a.endpoint (or fs.s3a.bucket.$bucket.endpoint) must be set " +
        "for the S3-compat filesystem")
    if (!endpoint.contains("://")) endpoint = s"http://$endpoint"
    workDir = new Path(s"${uri.getScheme}://$bucket/")
    val ak = resolved("access.key")
    val sk = resolved("secret.key")
    creds = if (ak.nonEmpty && sk.nonEmpty) Some((ak, sk)) else None
    region = resolved("endpoint.region", "us-east-1")
  }

  /** SigV4 headers for one request, or empty when unauthenticated.
    * `extraSigned` are headers that must be covered by the signature
    * (e.g. Range on ranged GETs).
    */
  private def authHeaders(method: String, url: String,
                          payloadSha256: String,
                          extraSigned: Seq[(String, String)] = Nil): Seq[(String, String)] =
    creds match {
      case Some((ak, sk)) =>
        SigV4.signRequest(method, url, extraSigned, payloadSha256,
          ak, sk, region)
      case None => extraSigned
    }

  override def getScheme: String = "s3a"
  override def getUri: URI = fsUri
  override def getWorkingDirectory: Path = workDir
  override def setWorkingDirectory(d: Path): Unit = { workDir = d }

  /** Object key for a path (no leading slash; "" is the bucket root). */
  private def keyOf(f: Path): String = {
    val p = f.toUri.getPath
    if (p == null || p == "/") "" else p.stripPrefix("/")
  }

  // SigV4.uriEncode, not URLEncoder: '+'-for-space (and raw '*') in
  // the wire form makes the signature mismatch any spec-conformant
  // verifier that canonicalizes %20 — the loopback was self-consistent
  // either way, but a real credentialed endpoint 403s on keys or
  // prefixes containing spaces
  private def encodeKey(key: String): String =
    key.split("/", -1).map(SigV4.uriEncode).mkString("/")

  private def objectUrl(key: String): String =
    s"$endpoint/$bucket/${encodeKey(key)}"

  private def connect(method: String, url: String,
                      headers: Seq[(String, String)] = Nil): HttpURLConnection = {
    val c = new URL(url).openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod(method)
    c.setConnectTimeout(30000)
    c.setReadTimeout(300000)
    headers.foreach { case (k, v) => c.setRequestProperty(k, v) }
    c
  }

  /** HEAD → Some(contentLength, lastModified) | None on 404. Falls
    * back to a 1-byte ranged GET (Content-Range carries the total)
    * when the endpoint omits Content-Length on HEAD.
    */
  private def head(key: String): Option[(Long, Long)] = {
    val url = objectUrl(key)
    val c = connect("HEAD", url,
      authHeaders("HEAD", url, SigV4.EmptyPayloadSha256))
    try c.getResponseCode match {
      case 200 =>
        val len = c.getContentLengthLong
        Some(((if (len >= 0) len else probeLength(key)), c.getLastModified))
      case 404 => None
      case rc  => throw new java.io.IOException(s"HEAD $key: HTTP $rc")
    } finally c.disconnect()
  }

  private def probeLength(key: String): Long = {
    val url = objectUrl(key)
    val c = connect("GET", url, authHeaders("GET", url,
      SigV4.EmptyPayloadSha256, Seq("Range" -> "bytes=0-0")))
    try c.getResponseCode match {
      case 206 =>
        val cr = Option(c.getHeaderField("Content-Range")).getOrElse("")
        cr.split("/").lastOption.filter(_.forall(_.isDigit)).map(_.toLong)
          .getOrElse(throw new java.io.IOException(
            s"GET $key: unparseable Content-Range '$cr'"))
      case 200 => c.getInputStream.readAllBytes().length.toLong
      case rc  => throw new java.io.IOException(s"GET $key: HTTP $rc")
    } finally c.disconnect()
  }

  /** One ListObjectsV2 page: (keys→sizes, commonPrefixes). The test
    * corpus is far below one page (1000 keys); continuation tokens are
    * honored anyway so large buckets list completely.
    */
  private def listPrefix(prefix: String,
                         delimiter: Option[String]): (Seq[(String, Long)], Seq[String]) = {
    var token: Option[String] = None
    val objs = Seq.newBuilder[(String, Long)]
    val prefixes = Seq.newBuilder[String]
    var more = true
    while (more) {
      val q = new StringBuilder(s"$endpoint/$bucket?list-type=2")
      q ++= s"&prefix=${SigV4.uriEncode(prefix)}"
      delimiter.foreach(d => q ++= s"&delimiter=${SigV4.uriEncode(d)}")
      token.foreach(t => q ++= s"&continuation-token=${SigV4.uriEncode(t)}")
      val c = connect("GET", q.toString,
        authHeaders("GET", q.toString, SigV4.EmptyPayloadSha256))
      val body =
        try {
          if (c.getResponseCode != 200)
            throw new java.io.IOException(s"LIST $prefix: HTTP ${c.getResponseCode}")
          new String(c.getInputStream.readAllBytes(), UTF_8)
        } finally c.disconnect()
      val xml = scala.xml.XML.loadString(body)
      (xml \ "Contents").foreach { n =>
        objs += (((n \ "Key").text, (n \ "Size").text.toLong))
      }
      (xml \ "CommonPrefixes").foreach(n => prefixes += (n \ "Prefix").text)
      token = Some((xml \ "NextContinuationToken").text).filter(_.nonEmpty)
      more = (xml \ "IsTruncated").text == "true" && token.isDefined
    }
    (objs.result(), prefixes.result())
  }

  private def status(key: String, len: Long, isDir: Boolean,
                     mtime: Long = 0L): FileStatus =
    new FileStatus(len, isDir, 1, 64L * 1024 * 1024, mtime,
      new Path(s"${fsUri.getScheme}://$bucket/$key").makeQualified(fsUri, workDir))

  override def getFileStatus(f: Path): FileStatus = {
    val key = keyOf(f)
    if (key.isEmpty) return status("", 0, isDir = true)
    head(key) match {
      case Some((len, mtime)) => status(key, len, isDir = false, mtime)
      case None =>
        // S3 has no directories: a "dir" exists iff some key extends it
        val (objs, pfx) = listPrefix(key + "/", delimiter = Some("/"))
        if (objs.nonEmpty || pfx.nonEmpty) status(key, 0, isDir = true)
        else throw new java.io.FileNotFoundException(f.toString)
    }
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    val st = getFileStatus(f)
    if (!st.isDirectory) return Array(st)
    val key = keyOf(f)
    val prefix = if (key.isEmpty) "" else key + "/"
    val (objs, pfx) = listPrefix(prefix, delimiter = Some("/"))
    val files = objs.filterNot(_._1 == prefix) // the dir-marker itself
      .map { case (k, sz) => status(k, sz, isDir = false) }
    val dirs = pfx.map(p => status(p.stripSuffix("/"), 0, isDir = true))
    (files ++ dirs).toArray
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    val key = keyOf(f)
    val (len, _) = head(key).getOrElse(
      throw new java.io.FileNotFoundException(f.toString))
    val url = objectUrl(key)
    new FSDataInputStream(new RangedHttpInputStream(url, len,
      sign = rng => authHeaders("GET", url, SigV4.EmptyPayloadSha256,
        Seq("Range" -> rng))))
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    val key = keyOf(f)
    if (!overwrite && head(key).isDefined)
      throw new org.apache.hadoop.fs.FileAlreadyExistsException(f.toString)
    // objects up to one part are a single PUT; anything larger streams
    // through the PUBLIC multipart-upload API (initiate → UploadPart
    // per partSize bytes → complete), so a 100 TB landing egress never
    // buffers an object — memory is bounded by ONE part whatever the
    // object size, and a failed part retries idempotently (same
    // uploadId + partNumber: S3 keeps the last accepted copy)
    // fs.s3a.multipart.size: the standard key. Real S3 floors parts
    // at 5 MB (all but the last); the key is honored as-given so
    // specs can exercise the part machinery with small fixtures.
    // getLongBytes: hadoop core-default ships the key as "64M".
    // Bounds-checked BEFORE the toInt: 2G+ is a legal S3 part size
    // but silently overflows Int (negative partSize = instant
    // IndexOutOfBounds on the first write), and 0 would loop forever
    val partSizeL = getConf
      .getLongBytes("fs.s3a.multipart.size", 64L * 1024 * 1024)
    require(partSizeL > 0 && partSizeL <= Int.MaxValue,
      s"fs.s3a.multipart.size out of supported range (0, 2G): $partSizeL")
    val partSize = partSizeL.toInt
    new FSDataOutputStream(new MultipartOutputStream(key, partSize), statistics)
  }

  /** Streaming writer over the S3 multipart API. Parts are cut at
    * `partSize` bytes; the upload is initiated lazily on the first
    * cut, so objects that fit one part take the plain single-PUT
    * path on close (no multipart round-trips for small files). Each
    * part upload retries once on a transport/5xx failure — the
    * retry is IDEMPOTENT by protocol (re-sending the same uploadId +
    * partNumber replaces the part). A close after a failed retry
    * aborts the upload so the endpoint reclaims the parts.
    */
  private class MultipartOutputStream(key: String, partSize: Int)
      extends java.io.OutputStream {
    private val buf = new ByteArrayOutputStream()
    private var uploadId: Option[String] = None
    private var partNum = 1
    private var closed = false
    private var failed = false
    private val etags = scala.collection.mutable.ArrayBuffer[(Int, String)]()

    override def write(b: Int): Unit = {
      buf.write(b)
      if (buf.size >= partSize) shipBuffered()
    }

    // memory really is bounded by ONE part: the open buffer is topped
    // up to a part boundary, then FULL parts ship straight from the
    // caller's array (no copy into the buffer, no whole-call
    // buffering) and only the < partSize tail is retained — a 1 GB
    // single write() with 64 MB parts peaks at one part of heap, not
    // the gigabyte
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      var o = off
      var rem = len
      if (buf.size > 0) {
        val take = math.min(rem, partSize - buf.size)
        buf.write(b, o, take); o += take; rem -= take
        if (buf.size >= partSize) shipBuffered()
      }
      while (rem >= partSize) {
        shipPart(java.util.Arrays.copyOfRange(b, o, o + partSize))
        o += partSize; rem -= partSize
      }
      if (rem > 0) buf.write(b, o, rem)
    }

    private def shipBuffered(): Unit = {
      val bytes = buf.toByteArray
      buf.reset()
      shipPart(bytes)
    }

    private def shipPart(bytes: Array[Byte]): Unit = {
      if (uploadId.isEmpty) uploadId = Some(initiateMultipart(key))
      val id = uploadId.get
      val etag =
        try uploadPart(key, id, partNum, bytes)
        catch {
          case e: java.io.IOException =>
            try uploadPart(key, id, partNum, bytes) // idempotent retry
            catch {
              case e2: java.io.IOException =>
                failed = true // close() must not complete a dead upload
                abortMultipart(key, id)
                throw new java.io.IOException(
                  s"part $partNum of $key failed twice " +
                    s"(first: ${e.getMessage})", e2)
            }
        }
      etags += ((partNum, etag))
      partNum += 1
    }

    override def close(): Unit = if (!closed) {
      closed = true // a double close must not re-PUT or re-complete
      // after a double part failure the upload is already aborted —
      // the caller's finally-close must not ship the leftover buffer
      // against the dead uploadId and mask the original error
      if (!failed) uploadId match {
        case None => put(key, buf.toByteArray) // fits one part
        case Some(id) =>
          if (buf.size > 0) shipPart(buf.toByteArray)
          completeMultipart(key, id, etags.toSeq)
      }
    }
  }

  private def initiateMultipart(key: String): String = {
    val url = objectUrl(key) + "?uploads"
    val c = connect("POST", url,
      authHeaders("POST", url, SigV4.EmptyPayloadSha256))
    c.setDoOutput(true)
    c.setFixedLengthStreamingMode(0)
    val body =
      try {
        c.getOutputStream.close()
        if (c.getResponseCode != 200)
          throw new java.io.IOException(
            s"initiate multipart $key: HTTP ${c.getResponseCode}")
        new String(c.getInputStream.readAllBytes(), UTF_8)
      } finally c.disconnect()
    val id = (scala.xml.XML.loadString(body) \ "UploadId").text
    require(id.nonEmpty, s"no UploadId in initiate response for $key")
    id
  }

  /** One UploadPart request → the part's ETag. Throws on any non-200
    * so the caller's idempotent retry engages.
    */
  private def uploadPart(key: String, uploadId: String, partNum: Int,
                         bytes: Array[Byte]): String = {
    val url = objectUrl(key) +
      s"?partNumber=$partNum&uploadId=${SigV4.uriEncode(uploadId)}"
    val c = connect("PUT", url, authHeaders("PUT", url, SigV4.sha256Hex(bytes)))
    c.setDoOutput(true)
    c.setFixedLengthStreamingMode(bytes.length)
    try {
      c.getOutputStream.write(bytes)
      c.getOutputStream.close()
      if (c.getResponseCode != 200)
        throw new java.io.IOException(
          s"UploadPart $partNum of $key: HTTP ${c.getResponseCode}")
      Option(c.getHeaderField("ETag")).getOrElse("")
    } finally c.disconnect()
  }

  private def completeMultipart(key: String, uploadId: String,
                                parts: Seq[(Int, String)]): Unit = {
    val url = objectUrl(key) + s"?uploadId=${SigV4.uriEncode(uploadId)}"
    val xml = ("<CompleteMultipartUpload>" + parts.sortBy(_._1).map {
      case (n, etag) =>
        s"<Part><PartNumber>$n</PartNumber><ETag>$etag</ETag></Part>"
    }.mkString + "</CompleteMultipartUpload>").getBytes(UTF_8)
    val c = connect("POST", url, authHeaders("POST", url, SigV4.sha256Hex(xml)))
    c.setDoOutput(true)
    c.setFixedLengthStreamingMode(xml.length)
    try {
      c.getOutputStream.write(xml)
      c.getOutputStream.close()
      if (c.getResponseCode != 200)
        throw new java.io.IOException(
          s"complete multipart $key: HTTP ${c.getResponseCode}")
      c.getInputStream.readAllBytes()
      ()
    } finally c.disconnect()
  }

  private def abortMultipart(key: String, uploadId: String): Unit = {
    val url = objectUrl(key) + s"?uploadId=${SigV4.uriEncode(uploadId)}"
    val c = connect("DELETE", url,
      authHeaders("DELETE", url, SigV4.EmptyPayloadSha256))
    try { c.getResponseCode; () } finally c.disconnect()
  }

  private def put(key: String, bytes: Array[Byte]): Unit = {
    val url = objectUrl(key)
    val c = connect("PUT", url,
      authHeaders("PUT", url, SigV4.sha256Hex(bytes)))
    c.setDoOutput(true)
    c.setFixedLengthStreamingMode(bytes.length)
    try {
      c.getOutputStream.write(bytes)
      c.getOutputStream.close()
      val rc = c.getResponseCode
      if (rc != 200 && rc != 201)
        throw new java.io.IOException(s"PUT $key: HTTP $rc")
    } finally c.disconnect()
  }

  override def append(f: Path, bufferSize: Int,
                      progress: Progressable): FSDataOutputStream =
    throw new UnsupportedOperationException("S3 objects are immutable")

  override def rename(src: Path, dst: Path): Boolean = {
    // copy-then-delete per object (S3 has no rename); only fixture-
    // sized writes take this path in this sandbox. A failed source
    // delete must FAIL the rename loudly — callers use rename in
    // swap disciplines (`require(fs.rename(...))`) and a silent
    // leftover source would merge old and new objects.
    val srcSt =
      try getFileStatus(src)
      catch { case _: java.io.FileNotFoundException => return false }
    def deleteOrThrow(key: String): Unit =
      if (!deleteObject(key))
        throw new java.io.IOException(
          s"rename: DELETE of source object $key failed")
    if (srcSt.isDirectory) {
      val (objs, _) = listPrefix(keyOf(src) + "/", delimiter = None)
      objs.foreach { case (k, _) =>
        val rel = k.stripPrefix(keyOf(src) + "/")
        copyObject(k, keyOf(dst) + "/" + rel)
        deleteOrThrow(k)
      }
    } else {
      copyObject(keyOf(src), keyOf(dst))
      deleteOrThrow(keyOf(src))
    }
    true
  }

  private def copyObject(srcKey: String, dstKey: String): Unit = {
    val url = objectUrl(srcKey)
    val c = connect("GET", url,
      authHeaders("GET", url, SigV4.EmptyPayloadSha256))
    val bytes =
      try {
        if (c.getResponseCode != 200)
          throw new java.io.IOException(s"GET $srcKey: HTTP ${c.getResponseCode}")
        c.getInputStream.readAllBytes()
      } finally c.disconnect()
    put(dstKey, bytes)
  }

  private def deleteObject(key: String): Boolean = {
    val url = objectUrl(key)
    val c = connect("DELETE", url,
      authHeaders("DELETE", url, SigV4.EmptyPayloadSha256))
    try c.getResponseCode == 204 || c.getResponseCode == 200
    finally c.disconnect()
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    val key = keyOf(f)
    head(key) match {
      case Some(_) => deleteObject(key)
      case None =>
        val (objs, _) = listPrefix(key + "/", delimiter = None)
        if (objs.isEmpty) false
        else if (!recursive)
          throw new java.io.IOException(s"$f is a non-empty directory")
        else { objs.foreach(o => deleteObject(o._1)); true }
    }
  }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = true
}

/** Configuration helpers for the s3a filesystem. The contract that
  * makes concurrent gates safe on one shared Hadoop configuration:
  * `register` writes only CONSTANT values (idempotent — concurrent
  * registrations write identical bytes and are never unset), and each
  * caller then scopes endpoint/credentials to its own bucket via
  * `configureBucket`/`clearBucket`, so no caller ever mutates a key
  * another caller reads.
  */
object S3CompatFileSystem {
  def bucketKey(bucket: String, suffix: String): String =
    s"fs.s3a.bucket.$bucket.$suffix"

  /** Session-wide, constant-valued registration of the s3a scheme.
    * Never restored: the values are the same for every caller, so a
    * concurrent writer is writing what is already there. Caching is
    * disabled because credentials may legitimately change between
    * opens of the same bucket (the tampered-secret DENY gates).
    */
  def register(hc: Configuration): Unit = {
    hc.set("fs.s3a.impl", classOf[S3CompatFileSystem].getName)
    hc.set("fs.s3a.impl.disable.cache", "true")
  }

  /** Scope an endpoint (and optional credentials) to one bucket. */
  def configureBucket(hc: Configuration, bucket: String, endpoint: String,
                      creds: Option[(String, String)] = None): Unit = {
    hc.set(bucketKey(bucket, "endpoint"), endpoint)
    creds.foreach { case (ak, sk) =>
      hc.set(bucketKey(bucket, "access.key"), ak)
      hc.set(bucketKey(bucket, "secret.key"), sk)
    }
  }

  /** Remove every per-bucket key `configureBucket` may have written. */
  def clearBucket(hc: Configuration, bucket: String): Unit =
    Seq("endpoint", "access.key", "secret.key", "endpoint.region")
      .foreach(s => hc.unset(bucketKey(bucket, s)))
}

/** Seekable HTTP reader with BOUNDED readahead ranges: each request
  * asks for `Range: bytes=pos-(pos+readahead-1)` and sequential reads
  * stream from the open block, reopening the next block when they run
  * past it. Bounding the range is what makes column pruning REAL on
  * the wire — an open-ended range would make the endpoint ship the
  * whole file tail on a footer-sized read (hadoop-aws bounds its
  * S3AInputStream requests with fs.s3a.readahead.range for the same
  * reason). This is the access pattern parquet needs (footer, then
  * selected column chunks) in plain HTTP range semantics.
  */
private class RangedHttpInputStream(url: String, length: Long,
                                    readahead: Long = 128L * 1024,
                                    sign: String => Seq[(String, String)] =
                                      rng => Seq("Range" -> rng))
    extends FSInputStream {
  private var pos = 0L
  private var streamAt = -1L // next offset the open stream will yield
  private var blockEnd = -1L // exclusive end of the open range
  private var stream: InputStream = _

  private def ensure(want: Long): InputStream = {
    if (stream == null || streamAt != pos || pos >= blockEnd) {
      if (stream != null) { stream.close(); stream = null }
      val end = math.min(length, pos + math.max(want, readahead))
      val c = new URL(url).openConnection().asInstanceOf[HttpURLConnection]
      c.setConnectTimeout(30000)
      c.setReadTimeout(300000)
      sign(s"bytes=$pos-${end - 1}")
        .foreach { case (k, v) => c.setRequestProperty(k, v) }
      val rc = c.getResponseCode
      if (rc != 200 && rc != 206)
        throw new java.io.IOException(s"GET $url @$pos: HTTP $rc")
      stream = c.getInputStream
      // a 200 to a ranged request means the server ignored Range —
      // skip manually so reads stay position-correct, and treat the
      // whole object as the block
      if (rc == 200) {
        var toSkip = pos
        while (toSkip > 0) {
          val n = stream.skip(toSkip)
          if (n <= 0) throw new java.io.IOException(s"skip to $pos failed")
          toSkip -= n
        }
        blockEnd = length
      } else blockEnd = end
      streamAt = pos
    }
    stream
  }

  /** A -1 while pos < length means the server closed the connection
    * mid-range — NOT end of object. Propagating it would let
    * line-oriented readers silently ingest a truncated object, so
    * retry the range once (transient close) and fail loudly if the
    * reopened stream is still short.
    */
  private def rejectShortRange(retried: Boolean): Boolean = {
    if (stream != null) { stream.close(); stream = null }
    if (retried)
      throw new java.io.EOFException(
        s"GET $url: server closed mid-range at $pos of $length")
    true
  }

  override def read(): Int =
    if (pos >= length) -1
    else {
      var retried = false
      var b = ensure(1L).read()
      while (b < 0) { retried = rejectShortRange(retried); b = ensure(1L).read() }
      pos += 1; streamAt = pos
      b
    }

  override def read(buf: Array[Byte], off: Int, len: Int): Int =
    if (pos >= length) -1
    else {
      var retried = false
      var n = -1
      while (n < 0) {
        val in = ensure(len.toLong)
        val bounded = math.min(len.toLong, blockEnd - pos).toInt
        n = in.read(buf, off, bounded)
        if (n < 0) retried = rejectShortRange(retried)
      }
      if (n > 0) { pos += n; streamAt = pos }
      n
    }

  override def seek(p: Long): Unit = {
    require(p >= 0 && p <= length, s"seek($p) out of [0,$length]")
    pos = p // lazily reopened on next read
  }

  override def getPos: Long = pos
  override def seekToNewSource(targetPos: Long): Boolean = false

  override def close(): Unit = {
    if (stream != null) { stream.close(); stream = null }
    super.close()
  }
}

/** Loopback S3-compatible endpoint (im15's loopback-HTTP pattern,
  * lifted to the S3 REST protocol): an in-memory object store behind
  * the JDK HttpServer answering path-style GET (with Range) / HEAD /
  * PUT / DELETE and GET `?list-type=2` with prefix/delimiter XML. It
  * exists so `s3a://` ingest can be driven end-to-end with zero
  * egress — the stand-in for runs3tests.sh's `aws
  * --endpoint-url=$AWS_ENDPOINT` fixture store.
  */
final class S3Loopback(credentials: Option[(String, String)] = None) {
  private val objects =
    new java.util.concurrent.ConcurrentSkipListMap[String, Array[Byte]]()
  private val served = new java.util.concurrent.atomic.AtomicLong(0L)
  private val denied = new java.util.concurrent.atomic.AtomicLong(0L)
  // multipart uploads in flight: uploadId → (objectPath, partNo → bytes)
  private val uploads = new java.util.concurrent.ConcurrentHashMap[
    String, (String, java.util.concurrent.ConcurrentSkipListMap[Int, Array[Byte]])]()
  private val uploadSeq = new java.util.concurrent.atomic.AtomicLong(0L)
  private val partFailures = new java.util.concurrent.atomic.AtomicInteger(0)
  private val server = HttpServers.loopback()

  /** Fault injection for the multipart retry path: the next `n`
    * UploadPart requests answer 500 (after consuming the body), so a
    * spec can prove the client's idempotent part retry end-to-end.
    */
  def failNextParts(n: Int): Unit = partFailures.set(n)

  /** Multipart uploads currently in flight (un-completed, un-aborted). */
  def inflightUploads: Int = uploads.size()

  /** Requests rejected 403 by SigV4 verification — lets a spec assert
    * that a tampered request was DENIED, not merely that it failed.
    */
  def deniedCount: Long = denied.get()

  def put(bucket: String, key: String, bytes: Array[Byte]): Unit =
    objects.put(s"$bucket/$key", bytes)

  /** Object-body bytes served by GETs since construction — lets a
    * test PROVE a column-pruned read transferred less than the full
    * objects (the property that matters at 100 TB: ranged reads must
    * fetch footers + selected column chunks, not whole files).
    */
  def bytesServed: Long = served.get()

  def endpoint: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  private def xmlEscape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  server.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) => {
    try {
      val raw = ex.getRequestURI.getRawPath.stripPrefix("/")
      val path = java.net.URLDecoder.decode(raw, "UTF-8")
      val query = Option(ex.getRequestURI.getQuery).getOrElse("")
      val method = ex.getRequestMethod
      def send(code: Int, body: Array[Byte], cl: Boolean = true): Unit = {
        if (cl) ex.sendResponseHeaders(code, if (body.isEmpty) -1 else body.length)
        else ex.sendResponseHeaders(code, -1)
        if (body.nonEmpty) ex.getResponseBody.write(body)
        ex.close()
      }
      // request body must be consumed BEFORE verification (the payload
      // hash covers it) and reused by the PUT/POST handlers below
      val reqBody =
        if (method == "PUT" || method == "POST")
          ex.getRequestBody.readAllBytes()
        else Array.emptyByteArray
      val params = query.split("&").filter(_.nonEmpty).map(_.split("=", 2))
        .map(kv => kv(0) -> (if (kv.length > 1)
          java.net.URLDecoder.decode(kv(1), "UTF-8") else "")).toMap
      val authFail = credentials.flatMap { case (ak, sk) =>
        SigV4.verifyRequest(method, ex.getRequestURI.getRawPath,
          ex.getRequestURI.getRawQuery,
          h => Option(ex.getRequestHeaders.getFirst(h)), reqBody,
          ak, sk).left.toOption
      }
      if (authFail.isDefined) {
        denied.incrementAndGet()
        val msg = ("<?xml version=\"1.0\"?><Error><Code>AccessDenied</Code>" +
          s"<Message>${xmlEscape(authFail.get)}</Message></Error>").getBytes(UTF_8)
        send(403, msg)
      } else if (method == "POST" && params.contains("uploads")) {
        // InitiateMultipartUpload (public S3 API: POST /key?uploads)
        val id = s"up${uploadSeq.incrementAndGet()}"
        uploads.put(id, (path,
          new java.util.concurrent.ConcurrentSkipListMap[Int, Array[Byte]]()))
        val xml = ("<?xml version=\"1.0\" encoding=\"UTF-8\"?>" +
          "<InitiateMultipartUploadResult>" +
          s"<Key>${xmlEscape(path)}</Key><UploadId>$id</UploadId>" +
          "</InitiateMultipartUploadResult>").getBytes(UTF_8)
        send(200, xml)
      } else if (method == "PUT" && params.contains("partNumber") &&
        params.contains("uploadId")) {
        // UploadPart — the fault-injection point for the retry spec
        if (partFailures.getAndUpdate(n => math.max(0, n - 1)) > 0)
          send(500, Array.emptyByteArray)
        else Option(uploads.get(params("uploadId"))) match {
          case None => send(404, Array.emptyByteArray)
          case Some((upPath, parts)) =>
            if (upPath != path) send(400, Array.emptyByteArray)
            else {
              // same uploadId + partNumber replaces the part — the
              // protocol guarantee that makes client retries idempotent
              parts.put(params("partNumber").toInt, reqBody)
              ex.getResponseHeaders.add("ETag",
                "\"" + java.security.MessageDigest.getInstance("MD5")
                  .digest(reqBody).map("%02x".format(_)).mkString + "\"")
              send(200, Array.emptyByteArray)
            }
        }
      } else if (method == "POST" && params.contains("uploadId")) {
        // CompleteMultipartUpload: concatenate parts by part number
        Option(uploads.remove(params("uploadId"))) match {
          case None => send(404, Array.emptyByteArray)
          case Some((upPath, parts)) =>
            val whole = new ByteArrayOutputStream()
            parts.values().forEach(whole.write(_)) // SkipListMap: key order
            objects.put(upPath, whole.toByteArray)
            val xml = ("<?xml version=\"1.0\" encoding=\"UTF-8\"?>" +
              "<CompleteMultipartUploadResult>" +
              s"<Key>${xmlEscape(upPath)}</Key>" +
              "</CompleteMultipartUploadResult>").getBytes(UTF_8)
            send(200, xml)
        }
      } else if (method == "DELETE" && params.contains("uploadId")) {
        // AbortMultipartUpload: reclaim the parts
        uploads.remove(params("uploadId"))
        send(204, Array.emptyByteArray)
      } else if (method == "GET" && query.contains("list-type=2")) {
        val bucket = path.stripSuffix("/")
        val prefix = params.getOrElse("prefix", "")
        val delim = params.get("delimiter").filter(_.nonEmpty)
        import scala.jdk.CollectionConverters._
        val all = objects.asScala.keys
          .filter(_.startsWith(s"$bucket/"))
          .map(_.stripPrefix(s"$bucket/"))
          .filter(_.startsWith(prefix)).toSeq.sorted
        val (direct, rolled) = delim match {
          case None => (all, Seq.empty[String])
          case Some(d) =>
            val (roll, dir) = all.partition(k =>
              k.stripPrefix(prefix).contains(d))
            (dir, roll.map(k => prefix +
              k.stripPrefix(prefix).takeWhile(_.toString != d) + d).distinct)
        }
        val contents = direct.map { k =>
          s"<Contents><Key>${xmlEscape(k)}</Key><Size>${objects.get(s"$bucket/$k").length}</Size></Contents>"
        }.mkString
        val prefixes = rolled.map(p =>
          s"<CommonPrefixes><Prefix>${xmlEscape(p)}</Prefix></CommonPrefixes>").mkString
        val xml = s"""<?xml version="1.0" encoding="UTF-8"?>
          |<ListBucketResult><IsTruncated>false</IsTruncated>
          |<KeyCount>${direct.size}</KeyCount>$contents$prefixes</ListBucketResult>"""
          .stripMargin
        send(200, xml.getBytes(UTF_8))
      } else {
        val bytes = objects.get(path)
        method match {
          case "HEAD" =>
            if (bytes == null) send(404, Array.emptyByteArray)
            else {
              // JDK HttpServer rejects a body length on a HEAD exchange;
              // the header must be set by hand with responseLength = -1
              ex.getResponseHeaders.set("Content-Length", bytes.length.toString)
              ex.sendResponseHeaders(200, -1); ex.close()
            }
          case "GET" =>
            if (bytes == null) send(404, Array.emptyByteArray)
            else Option(ex.getRequestHeaders.getFirst("Range")) match {
              case Some(r) if r.startsWith("bytes=") =>
                val spec = r.stripPrefix("bytes=").split("-", 2)
                // three wire forms: from-, from-to, and the suffix
                // -N many parquet/object readers use for footer
                // fetches (last N bytes)
                val (from, to) =
                  if (spec(0).isEmpty && spec.length > 1 && spec(1).nonEmpty)
                    (math.max(0L, bytes.length - spec(1).toLong),
                      bytes.length - 1L)
                  else {
                    val f = spec(0).toLong
                    (f, if (spec.length > 1 && spec(1).nonEmpty)
                      math.min(spec(1).toLong, bytes.length - 1L)
                    else bytes.length - 1L)
                  }
                if (from >= bytes.length || from > to) {
                  ex.getResponseHeaders.add("Content-Range",
                    s"bytes */${bytes.length}")
                  send(416, Array.emptyByteArray)
                } else {
                  val slice = java.util.Arrays.copyOfRange(
                    bytes, from.toInt, (to + 1).toInt)
                  ex.getResponseHeaders.add("Content-Range",
                    s"bytes $from-$to/${bytes.length}")
                  served.addAndGet(slice.length.toLong)
                  send(206, slice)
                }
              case _ => served.addAndGet(bytes.length.toLong); send(200, bytes)
            }
          case "PUT" =>
            objects.put(path, reqBody)
            send(200, Array.emptyByteArray)
          case "DELETE" =>
            objects.remove(path)
            send(204, Array.emptyByteArray)
          case _ => send(405, Array.emptyByteArray)
        }
      }
    } catch {
      case _: Throwable =>
        try { ex.sendResponseHeaders(500, -1); ex.close() }
        catch { case _: Throwable => () }
    }
  })
  server.start()

  def stop(): Unit = server.stop(0)
}

package graft.sources

import java.io.{DataInputStream, DataOutputStream, IOException}
import java.net.{InetSocketAddress, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.Base64
import javax.crypto.Mac
import javax.crypto.spec.{PBEKeySpec, SecretKeySpec}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Minimal PostgreSQL client speaking the published frontend/backend
  * protocol version 3 (postgresql.org/docs/current/protocol.html) — no
  * JDBC driver jar required, mirroring how [[S3LiteFileSystem]] speaks
  * raw S3 REST and [[Sqlite]] reads the raw file format.
  *
  * The reference's PostgreSQL source is a libpq client
  * (engine/src/io/data_provider/sql/PostgreSQLDataProvider.cpp,
  * data_parser/sql/PostgreSQLParser.cpp); this is the Spark-side
  * analogue, implementing the same capability — schema discovery, typed
  * batched reads, predicate pushdown into the generated SELECT — over
  * the wire protocol directly.
  *
  * Scope: startup + authentication (trust, cleartext, MD5, and
  * SCRAM-SHA-256 per RFC 5802/7677 — the PG10+ default), TLS session
  * encryption (SSLRequest upgrade per protocol §55.2.10, sslmode
  * disable/require + sslrootcert pinning — see [[TlsLite]]),
  * simple-query protocol ('Q'), text-format result decoding. Read-only
  * by design: the engine's sinks write files, not DBMS rows.
  */
object PgWire {

  // type OIDs from pg_type.dat (stable since PG 7.x, documented public)
  val OidBool = 16; val OidBytea = 17; val OidInt8 = 20; val OidInt2 = 21
  val OidInt4 = 23; val OidText = 25; val OidFloat4 = 700
  val OidFloat8 = 701; val OidBpchar = 1042; val OidVarchar = 1043
  val OidDate = 1082; val OidTimestamp = 1114; val OidTimestamptz = 1184
  val OidNumeric = 1700

  def sparkTypeOf(oid: Int, typmod: Int): DataType = oid match {
    case OidBool => BooleanType
    case OidInt2 => ShortType
    case OidInt4 => IntegerType
    case OidInt8 => LongType
    case OidFloat4 => FloatType
    case OidFloat8 => DoubleType
    case OidNumeric =>
      // typmod packs (precision<<16 | scale) + 4; -1 = unconstrained
      if (typmod == -1) DecimalType(38, 18)
      else DecimalType(((typmod - 4) >> 16) & 0xffff, (typmod - 4) & 0xffff)
    case OidDate => DateType
    case OidTimestamp => TimestampNTZType
    case OidTimestamptz => TimestampType
    case OidBytea => BinaryType
    case OidText | OidVarchar | OidBpchar => StringType
    case _ => StringType // unknown OIDs arrive in text format anyway
  }

  final case class Field(name: String, oid: Int, typmod: Int) {
    def sparkType: DataType = sparkTypeOf(oid, typmod)
  }

  /** One result set: fields + all rows in PostgreSQL text format
    * (null = SQL NULL). Batched reads bound `rows` by LIMIT, so no
    * streaming cursor is needed. */
  final case class Result(fields: Seq[Field], rows: Seq[Array[String]])

  private def md5hex(s: Array[Byte]): String =
    MessageDigest.getInstance("MD5").digest(s)
      .map(b => f"${b & 0xff}%02x").mkString

  /** The documented MD5 password response:
    * "md5" + md5(md5(password + user) + salt). */
  def md5Password(user: String, password: String, salt: Array[Byte]): String = {
    val inner = md5hex((password + user).getBytes(UTF_8))
    "md5" + md5hex(inner.getBytes(UTF_8) ++ salt)
  }

  // ---- SCRAM-SHA-256 (RFC 5802 with SHA-256 per RFC 7677) -------------

  private def hmacSha256(key: Array[Byte], data: Array[Byte]): Array[Byte] = {
    val mac = Mac.getInstance("HmacSHA256")
    mac.init(new SecretKeySpec(key, "HmacSHA256"))
    mac.doFinal(data)
  }

  private def sha256(b: Array[Byte]): Array[Byte] =
    MessageDigest.getInstance("SHA-256").digest(b)

  def saltedPassword(password: String, salt: Array[Byte],
      iterations: Int): Array[Byte] = {
    // Hi(str, salt, i) = PBKDF2-HMAC-SHA256 with dkLen = hash length
    val spec = new PBEKeySpec(password.toCharArray, salt, iterations, 256)
    javax.crypto.SecretKeyFactory.getInstance("PBKDF2WithHmacSHA256")
      .generateSecret(spec).getEncoded
  }

  /** RFC 5929 §4.1 tls-server-end-point channel-binding data: a hash of
    * the server certificate under the cert's own signature hash, with
    * MD5/SHA-1 upgraded to SHA-256. RSASSA-PSS certs carry no hash in
    * the algorithm NAME — it lives in the signature AlgorithmParameters
    * (PSSParameterSpec), so parse those; matching PostgreSQL's
    * OBJ_find_sigid_algs-based derivation keeps SCRAM-PLUS binding
    * working against PSS- and SHA-224-signed server certs. */
  def tlsServerEndPoint(
      cert: java.security.cert.X509Certificate): Array[Byte] = {
    val sig = cert.getSigAlgName.toUpperCase
    def normalize(h: String): String = h.toUpperCase.replace("-", "") match {
      case "MD5" | "SHA1" => "SHA-256" // RFC 5929 mandated upgrade
      case "SHA224" => "SHA-224"
      case "SHA384" => "SHA-384"
      case "SHA512" => "SHA-512"
      case _ => "SHA-256"
    }
    val alg =
      if (sig.contains("SHA224")) "SHA-224"
      else if (sig.contains("SHA384")) "SHA-384"
      else if (sig.contains("SHA512")) "SHA-512"
      else if (sig.contains("SHA256") || sig.contains("SHA1") ||
        sig.contains("MD5")) "SHA-256"
      else if (sig.contains("PSS") && cert.getSigAlgParams != null) {
        val p = java.security.AlgorithmParameters.getInstance("RSASSA-PSS")
        p.init(cert.getSigAlgParams)
        normalize(p.getParameterSpec(
          classOf[java.security.spec.PSSParameterSpec]).getDigestAlgorithm)
      } else "SHA-256"
    MessageDigest.getInstance(alg).digest(cert.getEncoded)
  }

  /** Client side of one SCRAM exchange (RFC 5802, SHA-256 per RFC 7677).
    * `gs2` selects the channel-binding posture: "n,," (no binding — the
    * plain-TCP path and the RFC 7677 test vector), "y,," (client
    * supports binding, server offered no -PLUS mechanism: the downgrade
    * canary — a -PLUS-capable server MUST reject it), or
    * "p=tls-server-end-point,," with `cbData` = [[tlsServerEndPoint]] of
    * the TLS session's certificate (SCRAM-SHA-256-PLUS; the c= attribute
    * then carries gs2 + cb-data, so a MITM terminating TLS with its own
    * cert breaks the proof). `user` is the gs2 n= attribute: PostgreSQL
    * clients send it EMPTY (the server uses the startup-message user),
    * but the RFC 7677 test vector needs "user", so it stays a
    * parameter. */
  final class Scram(user: String, password: String, nonce: String,
      gs2: String = "n,,", cbData: Array[Byte] = Array.emptyByteArray) {
    val clientFirstBare = s"n=$user,r=$nonce"
    def clientFirst: String = gs2 + clientFirstBare

    private var serverFirst: String = _
    private var saltedPw: Array[Byte] = _
    private var authMessage: Array[Byte] = _

    def clientFinal(serverFirstMsg: String): String = {
      serverFirst = serverFirstMsg
      val attrs = serverFirstMsg.split(',').map(_.split("=", 2))
        .map(kv => kv(0) -> kv(1)).toMap
      val fullNonce = attrs("r")
      if (!fullNonce.startsWith(nonce))
        throw new IOException("SCRAM: server nonce does not extend ours")
      val salt = Base64.getDecoder.decode(attrs("s"))
      val iters = attrs("i").toInt
      saltedPw = saltedPassword(password, salt, iters)
      // c = base64(gs2-header ++ cb-data); "n,," with no binding encodes
      // to the familiar "biws" of the RFC vector
      val c = Base64.getEncoder.encodeToString(gs2.getBytes(UTF_8) ++ cbData)
      val clientFinalNoProof = s"c=$c,r=$fullNonce"
      authMessage = (clientFirstBare + "," + serverFirst + "," +
        clientFinalNoProof).getBytes(UTF_8)
      val clientKey = hmacSha256(saltedPw, "Client Key".getBytes(UTF_8))
      val storedKey = sha256(clientKey)
      val clientSig = hmacSha256(storedKey, authMessage)
      val proof = clientKey.zip(clientSig).map(p => (p._1 ^ p._2).toByte)
      s"$clientFinalNoProof,p=${Base64.getEncoder.encodeToString(proof)}"
    }

    /** Verify the server's v= signature — mutual auth is part of the
      * protocol; skipping it would accept an impostor server. */
    def verifyServerFinal(serverFinalMsg: String): Unit = {
      val v = serverFinalMsg.split(',').map(_.split("=", 2))
        .collectFirst { case Array("v", x) => x }
        .getOrElse(throw new IOException(s"SCRAM: no v= in '$serverFinalMsg'"))
      val serverKey = hmacSha256(saltedPw, "Server Key".getBytes(UTF_8))
      val expect = Base64.getEncoder.encodeToString(
        hmacSha256(serverKey, authMessage))
      if (v != expect)
        throw new IOException("SCRAM: server signature mismatch")
    }
  }
}

/** One protocol-v3 connection. Not thread-safe (one socket, one
  * in-flight query) — each Spark partition reader opens its own.
  *
  * `sslMode` follows libpq's two ends of the spectrum: "disable" (plain
  * TCP, the default) and "require" (SSLRequest → TLS upgrade per
  * protocol §55.2.10; the connection FAILS if the server answers 'N' or
  * the certificate/hostname check fails). `sslRootCert` pins a root
  * certificate (inline PEM or path) for private-CA / self-signed
  * servers — see [[TlsLite]] for the trust model. `sslCert`/`sslKey`
  * (libpq's options of the same name) present a client certificate +
  * PKCS#8 key for mutual TLS — required by `clientcert=verify-full` /
  * `cert`-auth HBA deployments.
  */
final class PgConnection(host: String, port: Int, database: String,
    user: String, password: String, sslMode: String = "disable",
    sslRootCert: Option[String] = None,
    sslCert: Option[String] = None,
    sslKey: Option[String] = None) extends AutoCloseable {
  import PgWire._

  require(sslMode == "disable" || sslMode == "require",
    s"pg: unsupported sslmode '$sslMode' (supported: disable, require)")

  private var socket: Socket = new Socket()
  socket.connect(new InetSocketAddress(host, port), 30000)
  socket.setSoTimeout(120000)
  private var in = new DataInputStream(socket.getInputStream)
  private var out = new DataOutputStream(socket.getOutputStream)

  if (sslMode == "require") upgradeTls()
  handshake()

  /** Protocol §55.2.10: SSLRequest (Int32 len=8, Int32 80877103) on the
    * fresh connection; 'S' → TLS handshake rides the same socket, 'N' →
    * the server won't — which under sslmode=require is fatal, matching
    * libpq. Everything after (startup, auth, queries) is encrypted. */
  private def upgradeTls(): Unit = {
    out.writeInt(8)
    out.writeInt(80877103) // SSLRequest code (1234.5679 in the docs)
    out.flush()
    in.readByte().toChar match {
      case 'S' =>
        val ssl = TlsLite.upgradeClient(socket, host, port,
          TlsLite.clientContext(sslRootCert, sslCert, sslKey))
        socket = ssl
        in = new DataInputStream(ssl.getInputStream)
        out = new DataOutputStream(ssl.getOutputStream)
      case 'N' =>
        throw new IOException(
          "pg: server does not support SSL but sslmode=require")
      case other =>
        // pre-v12 servers may send an ErrorResponse ('E') instead of 'N'
        throw new IOException(
          s"pg: unexpected SSLRequest response '$other' under sslmode=require")
    }
  }

  private def sendStartup(): Unit = {
    val params = Seq("user", user, "database", database,
      "client_encoding", "UTF8")
    val body = params.map(_.getBytes(UTF_8)).map(_ :+ 0.toByte)
      .foldLeft(Array.emptyByteArray)(_ ++ _) :+ 0.toByte
    out.writeInt(8 + body.length)
    out.writeInt(196608) // protocol 3.0
    out.write(body)
    out.flush()
  }

  private def sendMsg(tpe: Char, body: Array[Byte]): Unit = {
    out.writeByte(tpe)
    out.writeInt(4 + body.length)
    out.write(body)
    out.flush()
  }

  /** Read one backend message: (type, payload). */
  private def readMsg(): (Char, Array[Byte]) = {
    val tpe = in.readByte().toChar
    val len = in.readInt() - 4
    if (len < 0 || len > 64 * 1024 * 1024)
      throw new IOException(s"pg: implausible message length $len")
    val body = new Array[Byte](len)
    in.readFully(body)
    (tpe, body)
  }

  private def errorOf(body: Array[Byte]): String = {
    // ErrorResponse: (fieldType byte, cstring)* terminated by \0
    val sb = new StringBuilder
    var i = 0
    while (i < body.length && body(i) != 0) {
      val code = body(i).toChar
      val end = body.indexOf(0.toByte, i + 1)
      val v = new String(body, i + 1, end - i - 1, UTF_8)
      if (code == 'S' || code == 'M' || code == 'C')
        sb.append(s"$code=$v ")
      i = end + 1
    }
    sb.toString.trim
  }

  private def handshake(): Unit = {
    sendStartup()
    var done = false
    while (!done) {
      val (tpe, body) = readMsg()
      tpe match {
        case 'R' =>
          val code = ((body(0) & 0xff) << 24) | ((body(1) & 0xff) << 16) |
            ((body(2) & 0xff) << 8) | (body(3) & 0xff)
          code match {
            case 0 => // AuthenticationOk
            case 3 => // cleartext
              sendMsg('p', password.getBytes(UTF_8) :+ 0.toByte)
            case 5 => // MD5: 4-byte salt follows
              val salt = body.slice(4, 8)
              sendMsg('p',
                md5Password(user, password, salt).getBytes(UTF_8) :+ 0.toByte)
            case 10 => // AuthenticationSASL: \0-separated mechanism list
              val mechs = new String(body.drop(4), UTF_8).split('\u0000')
                .filter(_.nonEmpty)
              // on a TLS link prefer SCRAM-SHA-256-PLUS (channel binding
              // to the server certificate — RFC 5802 §6 / RFC 5929); a
              // TLS client whose server offers no -PLUS sends gs2 "y," as
              // the downgrade canary; plain TCP stays "n,,"
              val tlsSock = socket match {
                case t: javax.net.ssl.SSLSocket => Some(t)
                case _ => None
              }
              val usePlus =
                tlsSock.isDefined && mechs.contains("SCRAM-SHA-256-PLUS")
              if (!usePlus && !mechs.contains("SCRAM-SHA-256"))
                throw new IOException(
                  s"pg: no supported SASL mechanism in ${mechs.mkString(",")}")
              val nonce = java.util.UUID.randomUUID().toString.replace("-", "")
              val (mechName, gs2, cb) =
                if (usePlus) {
                  val cert = tlsSock.get.getSession.getPeerCertificates.head
                    .asInstanceOf[java.security.cert.X509Certificate]
                  ("SCRAM-SHA-256-PLUS", "p=tls-server-end-point,,",
                    tlsServerEndPoint(cert))
                } else if (tlsSock.isDefined)
                  ("SCRAM-SHA-256", "y,,", Array.emptyByteArray)
                else ("SCRAM-SHA-256", "n,,", Array.emptyByteArray)
              scram = new Scram("", password, nonce, gs2, cb) // empty n= per PG convention
              val initial = scram.clientFirst.getBytes(UTF_8)
              val mech = mechName.getBytes(UTF_8)
              val payload = (mech :+ 0.toByte) ++
                Array[Byte]((initial.length >> 24).toByte,
                  (initial.length >> 16).toByte, (initial.length >> 8).toByte,
                  initial.length.toByte) ++ initial
              sendMsg('p', payload)
            case 11 => // SASLContinue: server-first-message
              val resp = scram.clientFinal(new String(body.drop(4), UTF_8))
              sendMsg('p', resp.getBytes(UTF_8))
            case 12 => // SASLFinal: server-final-message (v=...)
              scram.verifyServerFinal(new String(body.drop(4), UTF_8))
            case other =>
              throw new IOException(s"pg: unsupported auth request $other" +
                " (supported: trust, cleartext, md5, SCRAM-SHA-256)")
          }
        case 'S' | 'K' | 'N' => // ParameterStatus / BackendKeyData / Notice
        case 'Z' => done = true // ReadyForQuery
        case 'E' =>
          throw new IOException(s"pg: auth failed: ${errorOf(body)}")
        case other =>
          throw new IOException(s"pg: unexpected message '$other' in startup")
      }
    }
  }

  private var scram: Scram = _

  /** Simple-query protocol: one SQL string, full text-format result. */
  def query(sql: String): Result = {
    sendMsg('Q', sql.getBytes(UTF_8) :+ 0.toByte)
    var fields: Seq[Field] = Nil
    val rows = Seq.newBuilder[Array[String]]
    var err: String = null
    var done = false
    while (!done) {
      val (tpe, body) = readMsg()
      tpe match {
        case 'T' => // RowDescription
          var i = 2
          val n = ((body(0) & 0xff) << 8) | (body(1) & 0xff)
          fields = (0 until n).map { _ =>
            val end = body.indexOf(0.toByte, i)
            val name = new String(body, i, end - i, UTF_8)
            i = end + 1
            def int32(off: Int): Int =
              ((body(off) & 0xff) << 24) | ((body(off + 1) & 0xff) << 16) |
                ((body(off + 2) & 0xff) << 8) | (body(off + 3) & 0xff)
            val oid = int32(i + 6)
            val typmod = int32(i + 12)
            i += 18
            Field(name, oid, typmod)
          }
        case 'D' => // DataRow
          val n = ((body(0) & 0xff) << 8) | (body(1) & 0xff)
          var i = 2
          val vals = new Array[String](n)
          var c = 0
          while (c < n) {
            val len = ((body(i) & 0xff) << 24) | ((body(i + 1) & 0xff) << 16) |
              ((body(i + 2) & 0xff) << 8) | (body(i + 3) & 0xff)
            i += 4
            if (len >= 0) {
              vals(c) = new String(body, i, len, UTF_8)
              i += len
            } // len == -1 → SQL NULL → null
            c += 1
          }
          rows += vals
        case 'C' | 'I' => // CommandComplete / EmptyQueryResponse
        case 'N' => // NoticeResponse
        case 'E' => err = errorOf(body)
        case 'Z' => done = true
        case other =>
          throw new IOException(s"pg: unexpected message '$other' in query")
      }
    }
    if (err != null) throw new IOException(s"pg: query failed: $err")
    Result(fields, rows.result())
  }

  override def close(): Unit = {
    try { sendMsg('X', Array.emptyByteArray) } catch { case _: Exception => }
    socket.close()
  }
}

/** Text-format value decoding → Catalyst internal values. PostgreSQL's
  * text output formats are documented per type (bool "t"/"f", bytea
  * "\x<hex>", timestamps "YYYY-MM-DD HH:MM:SS[.ffffff][+TZ]"). */
object PgDecode {
  def decode(v: String, dt: DataType): Any = {
    if (v == null) return null
    dt match {
      case StringType => UTF8String.fromString(v)
      case BooleanType => v == "t" || v == "true"
      case ShortType => v.toShort
      case IntegerType => v.toInt
      case LongType => v.toLong
      case FloatType => v.toFloat
      case DoubleType => v.toDouble
      case d: DecimalType =>
        // unconstrained NUMERIC maps to (38,18) but the server may emit
        // more fractional digits than 18 — setScale without a rounding
        // mode would throw ArithmeticException on such values
        org.apache.spark.sql.types.Decimal(
          new java.math.BigDecimal(v)
            .setScale(d.scale, java.math.RoundingMode.HALF_UP),
          d.precision, d.scale)
      case DateType => java.time.LocalDate.parse(v).toEpochDay.toInt
      case TimestampNTZType => parseTs(v, withTz = false)
      case TimestampType => parseTs(v, withTz = true)
      case BinaryType =>
        if (v.startsWith("\\x")) hexToBytes(v.substring(2))
        else v.getBytes(UTF_8) // legacy escape format not emitted by PG9.0+
      case other =>
        throw new IOException(s"pg: cannot decode text value into $other")
    }
  }

  private def hexToBytes(h: String): Array[Byte] = {
    val out = new Array[Byte](h.length / 2)
    var i = 0
    while (i < out.length) {
      out(i) = Integer.parseInt(h.substring(2 * i, 2 * i + 2), 16).toByte
      i += 1
    }
    out
  }

  /** "2021-01-02 10:20:30.123456" (+ optional "+HH[:MM]" zone for
    * timestamptz) → micros since epoch. */
  private[sources] def parseTs(s: String, withTz: Boolean): Long = {
    val t = s.replace(' ', 'T')
    if (withTz) {
      // PG emits a numeric zone offset; normalize "+00" → "+00:00"
      val zoned = t.takeRight(3) match {
        case z if z.startsWith("+") || z.startsWith("-") =>
          java.time.OffsetDateTime.parse(t + ":00")
        case _ => java.time.OffsetDateTime.parse(t)
      }
      zoned.toInstant.getEpochSecond * 1000000L +
        zoned.toInstant.getNano / 1000L
    } else {
      val ldt = java.time.LocalDateTime.parse(t)
      ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
        ldt.getNano / 1000L
    }
  }
}

/** DataSource V2 provider: `spark.read.format("postgres")
  * .option("host", h).option("port", p).option("database", db)
  * .option("user", u).option("password", w).option("dbtable", t).load()`.
  *
  * Pushdown: required columns and supported filters compile into the
  * SELECT sent to the server (the reference pushes the same way —
  * AbstractSQLDataProvider.cpp:53 builds `SELECT <cols> FROM t WHERE
  * <predicates> LIMIT n OFFSET m`). Partitioning: `partitionColumn` +
  * `numPartitions` slice by range predicates ([[SqlFilter.selects]]),
  * the shape that scales — LIMIT/OFFSET batches (the
  * reference's table_batch_size) force the server to re-sort per batch.
  */
class PostgresDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "postgres"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val o = PgOptions(options)
    val conn = o.connect()
    try {
      // LIMIT 0 still returns RowDescription: names + type OIDs, exactly
      // what schema inference needs, with zero data moved
      val r = conn.query(
        s"SELECT * FROM ${o.quotedTable} LIMIT 0")
      StructType(r.fields.map(f =>
        StructField(f.name, f.sparkType, nullable = true)))
    } finally conn.close()
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new PostgresTable(schema, properties)
}

final case class PgOptions(host: String, port: Int, database: String,
    user: String, password: String, table: String,
    partitionColumn: Option[String], numPartitions: Int,
    sslMode: String = "disable", sslRootCert: Option[String] = None,
    sslCert: Option[String] = None, sslKey: Option[String] = None) {
  def connect(): PgConnection =
    new PgConnection(host, port, database, user, password, sslMode,
      sslRootCert, sslCert, sslKey)
  def quotedTable: String =
    table.split('.').map(p => "\"" + p.replace("\"", "\"\"") + "\"")
      .mkString(".")
}

object PgOptions {
  def apply(o: java.util.Map[String, String]): PgOptions = {
    val m = new CaseInsensitiveStringMap(o)
    def req(k: String): String = Option(m.get(k)).getOrElse(
      throw new IllegalArgumentException(s"postgres source: missing option '$k'"))
    PgOptions(
      host = Option(m.get("host")).getOrElse("localhost"),
      port = Option(m.get("port")).map(_.toInt).getOrElse(5432),
      database = req("database"),
      user = Option(m.get("user")).getOrElse("postgres"),
      password = Option(m.get("password")).getOrElse(""),
      table = req("dbtable"),
      partitionColumn = Option(m.get("partitionColumn")),
      numPartitions = Option(m.get("numPartitions")).map(_.toInt).getOrElse(1),
      sslMode = Option(m.get("sslmode")).getOrElse("disable"),
      sslRootCert = Option(m.get("sslrootcert")),
      sslCert = Option(m.get("sslcert")),
      sslKey = Option(m.get("sslkey")))
  }
}

class PostgresTable(tableSchema: StructType,
    properties: java.util.Map[String, String])
    extends Table with SupportsRead {
  private val opts = PgOptions(properties)
  override def name(): String =
    s"postgres:${opts.host}:${opts.port}/${opts.database}.${opts.table}"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new PostgresScanBuilder(opts, tableSchema)
}

/** SQL rendering of Spark data-source filters, shared by the lite DBMS
  * sources (PostgreSQL, MySQL — only identifier quoting differs).
  * Unsupported shapes return None and stay Spark-side — pushdown must
  * never change semantics. NULL-safety: every rendered predicate has
  * standard SQL three-valued logic, same as Spark's post-scan
  * evaluation, so double-evaluation is harmless. */
private[sources] object SqlFilter {
  def compile(f: Filter, quote: String => String): Option[String] = {
    def lit(v: Any): Option[String] = v match {
      case null => None
      case s: String => Some("'" + s.replace("'", "''") + "'")
      case s: UTF8String => lit(s.toString)
      case b: Boolean => Some(if (b) "true" else "false")
      case n @ (_: Byte | _: Short | _: Int | _: Long) => Some(n.toString)
      case f: Float if java.lang.Float.isFinite(f) => Some(f.toString)
      case d: Double if java.lang.Double.isFinite(d) => Some(d.toString)
      // NaN/Infinity would render as bare SQL tokens ("col = NaN") the
      // server rejects — keep such predicates Spark-side
      case _: Float | _: Double => None
      case d: java.math.BigDecimal => Some(d.toPlainString)
      case d: java.sql.Date => Some(s"DATE '$d'")
      case d: java.time.LocalDate => Some(s"DATE '$d'")
      case t: java.sql.Timestamp => Some(s"TIMESTAMP '$t'")
      case _ => None
    }
    f match {
      case EqualTo(a, v) => lit(v).map(l => s"${quote(a)} = $l")
      case GreaterThan(a, v) => lit(v).map(l => s"${quote(a)} > $l")
      case GreaterThanOrEqual(a, v) => lit(v).map(l => s"${quote(a)} >= $l")
      case LessThan(a, v) => lit(v).map(l => s"${quote(a)} < $l")
      case LessThanOrEqual(a, v) => lit(v).map(l => s"${quote(a)} <= $l")
      case In(a, vs) if vs.nonEmpty && vs.forall(_ != null) =>
        val ls = vs.map(lit)
        if (ls.forall(_.isDefined))
          Some(s"${quote(a)} IN (${ls.map(_.get).mkString(", ")})")
        else None
      case IsNull(a) => Some(s"${quote(a)} IS NULL")
      case IsNotNull(a) => Some(s"${quote(a)} IS NOT NULL")
      case StringStartsWith(a, p) =>
        Some(s"${quote(a)} LIKE '${p.replace("'", "''")
          .replace("\\", "\\\\").replace("%", "\\%").replace("_", "\\_")}%'")
      case And(l, r) =>
        for (lc <- compile(l, quote); rc <- compile(r, quote))
          yield s"($lc AND $rc)"
      case Or(l, r) =>
        for (lc <- compile(l, quote); rc <- compile(r, quote))
          yield s"($lc OR $rc)"
      case Not(c) => compile(c, quote).map(x => s"(NOT $x)")
      case _ => None
    }
  }

  /** The SELECT of each partition of a scan of `table`: the `required`
    * columns (the literal 1 for an empty projection, as count(*) plans
    * need a column) under the pushed `where` predicates. With a
    * `partitionColumn` and `numPartitions` > 1, the key range that
    * `minMax` fetches for its SQL (the two result cells, null on an empty
    * table) is cut into equal slices, the same pattern Spark's JDBC
    * relation uses. The edge slices are open-ended, so each non-null key
    * lands in exactly one slice whatever the bounds. */
  def selects(table: String, required: StructType, where: Array[String],
      partitionColumn: Option[String], numPartitions: Int,
      quote: String => String,
      minMax: String => (String, String)): IndexedSeq[String] = {
    def select(extraPred: Option[String]): String = {
      val cols =
        if (required.isEmpty) "1" else required.fieldNames.map(quote).mkString(", ")
      val preds = where ++ extraPred
      s"SELECT $cols FROM $table" +
        (if (preds.nonEmpty) s" WHERE ${preds.mkString(" AND ")}" else "")
    }
    partitionColumn match {
      case Some(col) if numPartitions > 1 =>
        val q = quote(col)
        val (lo, hi) = minMax(s"SELECT min($q), max($q) FROM $table") match {
          case (null, _) => (0L, 0L)
          case (l, h) => (l.toLong, h.toLong)
        }
        val n = numPartitions.toLong
        val span = math.max(1L, (hi - lo + n) / n) // ceil, ≥1
        (0 until numPartitions).map { i =>
          val start = lo + i * span
          select(Some(
            if (i == 0 && i == numPartitions - 1) s"$q IS NOT NULL"
            else if (i == 0) s"$q < ${start + span}"
            else if (i == numPartitions - 1) s"$q >= $start"
            else s"($q >= $start AND $q < ${start + span})"))
        }
      case _ => IndexedSeq(select(None))
    }
  }
}

class PostgresScanBuilder(opts: PgOptions, full: StructType)
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {
  private var required: StructType = full
  private var pushed: Array[Filter] = Array.empty

  private def compile(f: Filter): Option[String] =
    SqlFilter.compile(f, a => "\"" + a.replace("\"", "\"\"") + "\"")

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(f => compile(f).isDefined)
    // every pushed predicate is exactly translatable → no residual
    // re-evaluation needed, return only the untranslatable remainder
    filters.filter(f => compile(f).isEmpty)
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan =
    new PostgresScan(opts, full, required,
      pushed.flatMap(compile(_).toSeq))
}

class PostgresScan(opts: PgOptions, full: StructType, required: StructType,
    where: Array[String]) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"PostgresScan ${opts.quotedTable}" +
      (if (where.nonEmpty) s", PushedFilters: [${where.mkString(", ")}]"
       else "")

  override def planInputPartitions(): Array[InputPartition] =
    SqlFilter.selects(opts.quotedTable, required, where, opts.partitionColumn,
      opts.numPartitions, c => "\"" + c.replace("\"", "\"\"") + "\"",
      sql => {
        val conn = opts.connect()
        try {
          val row = conn.query(sql).rows.headOption.getOrElse(Array[String](null, null))
          (row(0), row(1))
        } finally conn.close()
      }).zipWithIndex.map { case (sql, i) => PgPartition(i, sql): InputPartition }.toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new PgReaderFactory(opts, required)
}

final case class PgPartition(index: Int, sql: String) extends InputPartition

class PgReaderFactory(opts: PgOptions, required: StructType)
    extends PartitionReaderFactory {
  override def createReader(
      partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[PgPartition]
    new PartitionReader[InternalRow] {
      private var conn: PgConnection = _
      private var it: Iterator[Array[String]] = _
      private var current: InternalRow = _
      private val types = required.fields.map(_.dataType)

      override def next(): Boolean = {
        if (it == null) {
          conn = opts.connect()
          it = conn.query(p.sql).rows.iterator
        }
        if (!it.hasNext) { current = null; return false }
        val row = it.next()
        val vals = new Array[Any](types.length)
        var i = 0
        while (i < types.length) {
          // count(*)-style empty projection reads "1" columns we discard
          if (i < row.length) vals(i) = PgDecode.decode(row(i), types(i))
          i += 1
        }
        current = new GenericInternalRow(vals)
        true
      }
      override def get(): InternalRow = current
      override def close(): Unit = if (conn != null) conn.close()
    }
  }
}

package graft.sources

import java.io.{DataInputStream, DataOutputStream, IOException}
import java.net.{InetSocketAddress, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Minimal MySQL client speaking the published client/server protocol
  * (dev.mysql.com/doc/dev/mysql-server → Client/Server Protocol) — the
  * [[PgConnection]] pattern for the reference's third DBMS dialect
  * (engine/src/io/data_provider/sql/MySQLDataProvider.cpp,
  * data_parser/sql/MySQLParser.cpp), again with no driver jar.
  *
  * Scope: handshake v10 + `mysql_native_password` and
  * `caching_sha2_password` (fast AND full path) authentication,
  * auth-switch, TLS (CLIENT_SSL upgrade, see [[TlsLite]]), COM_QUERY
  * text-protocol result sets. The full path over TLS sends the password
  * on the encrypted link (the production default); over plain TCP it
  * requests the server's RSA public key and sends the nonce-XORed
  * password OAEP-encrypted under it — passive eavesdroppers learn
  * nothing, but the unauthenticated key exchange is MITM-able (MySQL's
  * documented --get-server-public-key trade-off); pin the key via the
  * `serverPublicKey` option to close that.
  */
object MyWire {

  // column type codes (include/field_types.h, public)
  val TypeTiny = 1; val TypeShort = 2; val TypeLong = 3; val TypeFloat = 4
  val TypeDouble = 5; val TypeNull = 6; val TypeTimestamp = 7
  val TypeLonglong = 8; val TypeInt24 = 9; val TypeDate = 10
  val TypeTime = 11; val TypeDatetime = 12; val TypeYear = 13
  val TypeVarchar = 15; val TypeBit = 16; val TypeNewDecimal = 246
  val TypeBlob = 252; val TypeVarString = 253; val TypeString = 254

  val FlagUnsigned = 0x20
  val CharsetBinary = 63

  final case class Field(name: String, tpe: Int, flags: Int,
      charset: Int, length: Long, decimals: Int) {
    def sparkType: DataType = tpe match {
      case TypeTiny =>
        // the reference maps TINYINT(1)/BOOL to BOOL8 (MySQLParser.cpp:67)
        if (length == 1) BooleanType else ByteType
      case TypeShort | TypeYear => ShortType
      case TypeInt24 | TypeLong =>
        if ((flags & FlagUnsigned) != 0) LongType else IntegerType
      case TypeLonglong =>
        if ((flags & FlagUnsigned) != 0) DecimalType(20, 0) else LongType
      case TypeFloat => FloatType
      case TypeDouble => DoubleType
      case TypeNewDecimal =>
        // display length includes sign and decimal point
        val prec = (length - (if (decimals > 0) 2 else 1)).toInt
        DecimalType(math.max(1, math.min(38, prec)), decimals)
      case TypeDate => DateType
      case TypeDatetime => TimestampNTZType // wall-clock, no zone
      case TypeTimestamp => TimestampType // UTC-normalized by the server
      case TypeBit => BinaryType
      case TypeBlob | TypeVarString | TypeString | TypeVarchar =>
        if (charset == CharsetBinary) BinaryType else StringType
      case _ => StringType
    }
  }

  final case class Result(fields: Seq[Field], rows: Seq[Array[Array[Byte]]])

  private def sha1(b: Array[Byte]): Array[Byte] =
    MessageDigest.getInstance("SHA-1").digest(b)
  private def sha256(b: Array[Byte]): Array[Byte] =
    MessageDigest.getInstance("SHA-256").digest(b)
  private def xor(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    a.zip(b).map(p => (p._1 ^ p._2).toByte)

  /** mysql_native_password scramble:
    * SHA1(pw) XOR SHA1(nonce + SHA1(SHA1(pw))). */
  def nativePassword(password: String, nonce: Array[Byte]): Array[Byte] = {
    if (password.isEmpty) return Array.emptyByteArray
    val h1 = sha1(password.getBytes(UTF_8))
    xor(h1, sha1(nonce ++ sha1(h1)))
  }

  /** caching_sha2_password scramble (fast path):
    * SHA256(pw) XOR SHA256(SHA256(SHA256(pw)) + nonce). */
  def cachingSha2Password(password: String,
      nonce: Array[Byte]): Array[Byte] = {
    if (password.isEmpty) return Array.emptyByteArray
    val h1 = sha256(password.getBytes(UTF_8))
    xor(h1, sha256(sha256(h1) ++ nonce))
  }

  /** caching_sha2_password FULL-auth payload for a non-TLS link: the
    * NUL-terminated password XORed with the handshake nonce (cycled),
    * then RSA-encrypted under the server's public key with OAEP
    * (SHA-1/MGF1 — the padding libmysqlclient uses for
    * `RSA_PKCS1_OAEP_PADDING`). Public protocol: caching_sha2_password
    * § "full authentication"; the cleartext never crosses the wire. */
  def rsaEncryptPassword(password: String, nonce: Array[Byte],
      pem: String): Array[Byte] = {
    val b64 = pem
      .replace("-----BEGIN PUBLIC KEY-----", "")
      .replace("-----END PUBLIC KEY-----", "")
    // MimeDecoder skips whitespace and any trailing NUL the server
    // appends to the key payload
    val der = java.util.Base64.getMimeDecoder.decode(b64)
    val key = java.security.KeyFactory.getInstance("RSA")
      .generatePublic(new java.security.spec.X509EncodedKeySpec(der))
    val pw = password.getBytes(UTF_8) :+ 0.toByte
    val xored = new Array[Byte](pw.length)
    var i = 0
    while (i < pw.length) {
      xored(i) = (pw(i) ^ nonce(i % nonce.length)).toByte
      i += 1
    }
    val c = javax.crypto.Cipher.getInstance(
      "RSA/ECB/OAEPWithSHA-1AndMGF1Padding")
    c.init(javax.crypto.Cipher.ENCRYPT_MODE, key)
    c.doFinal(xored)
  }
}

/** One MySQL connection. Not thread-safe — one socket, one in-flight
  * COM_QUERY; each Spark partition reader opens its own.
  *
  * `sslMode`: "disable" (plain TCP, default) or "require" (CLIENT_SSL
  * capability upgrade — SSLRequest packet, then TLS rides the same
  * socket; fails if the server lacks CLIENT_SSL or the
  * certificate/hostname check fails). `sslRootCert` pins a root
  * certificate for self-signed / private-CA servers ([[TlsLite]]).
  * `serverPublicKey`: pinned RSA public key (PEM or path) for the
  * plain-TCP caching_sha2 FULL-auth path — the `--server-public-key-path`
  * equivalent; see the full-auth branch for the MITM trade-off it closes.
  * `sslCert`/`sslKey` (the --ssl-cert/--ssl-key equivalents) present a
  * client certificate + PKCS#8 key for mutual TLS — required by
  * `REQUIRE X509` accounts.
  */
final class MyConnection(host: String, port: Int, database: String,
    user: String, password: String, sslMode: String = "disable",
    sslRootCert: Option[String] = None,
    serverPublicKey: Option[String] = None,
    sslCert: Option[String] = None,
    sslKey: Option[String] = None) extends AutoCloseable {
  import MyWire._

  require(sslMode == "disable" || sslMode == "require",
    s"mysql: unsupported sslMode '$sslMode' (supported: disable, require)")

  // capabilities we announce: CLIENT_LONG_PASSWORD | CLIENT_PROTOCOL_41 |
  // CLIENT_SECURE_CONNECTION | CLIENT_PLUGIN_AUTH | CLIENT_CONNECT_WITH_DB
  // (+ CLIENT_SSL 0x800 when sslMode=require)
  private val Caps = 0x00000001 | 0x00000200 | 0x00008000 | 0x00080000 | 0x8 |
    (if (sslMode == "require") 0x800 else 0)
  private def tlsActive = socket.isInstanceOf[javax.net.ssl.SSLSocket]

  private var socket: Socket = new Socket()
  socket.connect(new InetSocketAddress(host, port), 30000)
  socket.setSoTimeout(120000)
  private var in = new DataInputStream(socket.getInputStream)
  private var out = new DataOutputStream(socket.getOutputStream)
  private var seq = 0

  handshake()

  // ---- packet framing: 3-byte LE length + 1-byte sequence ------------

  private def readPacket(): Array[Byte] = {
    val a = in.read(); val b = in.read(); val c = in.read()
    val s = in.read()
    if ((a | b | c | s) < 0) throw new IOException("mysql: EOF on socket")
    seq = (s + 1) & 0xff
    val len = a | (b << 8) | (c << 16)
    val body = new Array[Byte](len)
    in.readFully(body)
    body
  }

  private def writePacket(body: Array[Byte]): Unit = {
    out.write(body.length & 0xff)
    out.write((body.length >> 8) & 0xff)
    out.write((body.length >> 16) & 0xff)
    out.write(seq)
    seq = (seq + 1) & 0xff
    out.write(body)
    out.flush()
  }

  private def lenencInt(b: Array[Byte], pos: Int): (Long, Int) =
    (b(pos) & 0xff) match {
      case x if x < 0xfb => (x.toLong, pos + 1)
      case 0xfc => (((b(pos + 1) & 0xffL)) | ((b(pos + 2) & 0xffL) << 8),
        pos + 3)
      case 0xfd => ((b(pos + 1) & 0xffL) | ((b(pos + 2) & 0xffL) << 8) |
        ((b(pos + 3) & 0xffL) << 16), pos + 4)
      case 0xfe =>
        var v = 0L
        for (i <- 0 until 8) v |= (b(pos + 1 + i) & 0xffL) << (8 * i)
        (v, pos + 9)
      case x => throw new IOException(s"mysql: bad lenenc first byte $x")
    }

  private def lenencBytes(b: Array[Byte], pos: Int): (Array[Byte], Int) = {
    val (n, p) = lenencInt(b, pos)
    (java.util.Arrays.copyOfRange(b, p, p + n.toInt), p + n.toInt)
  }

  private def cstrEnd(b: Array[Byte], pos: Int): Int = {
    var i = pos
    while (i < b.length && b(i) != 0) i += 1
    i
  }

  private def errOf(b: Array[Byte]): String = {
    // ERR: 0xff, code(2), '#'+sqlstate(5) when CLIENT_PROTOCOL_41, msg
    val code = (b(1) & 0xff) | ((b(2) & 0xff) << 8)
    val msgStart = if (b.length > 3 && b(3) == '#') 9 else 3
    s"[$code] ${new String(b, msgStart, b.length - msgStart, UTF_8)}"
  }

  // ---- handshake -----------------------------------------------------

  private def scrambleFor(plugin: String, nonce: Array[Byte]): Array[Byte] =
    plugin match {
      case "mysql_native_password" => nativePassword(password, nonce)
      case "caching_sha2_password" => cachingSha2Password(password, nonce)
      case other =>
        throw new IOException(s"mysql: unsupported auth plugin $other")
    }

  private def handshake(): Unit = {
    val greet = readPacket()
    if ((greet(0) & 0xff) == 0xff)
      throw new IOException(s"mysql: server refused: ${errOf(greet)}")
    require((greet(0) & 0xff) == 10, s"mysql: protocol ${greet(0)} != 10")
    var p = cstrEnd(greet, 1) + 1 // server version
    p += 4 // thread id
    val noncePart1 = java.util.Arrays.copyOfRange(greet, p, p + 8)
    p += 8 + 1 // filler
    val capLow = (greet(p) & 0xff) | ((greet(p + 1) & 0xff) << 8)
    p += 2 // capability lower
    p += 1 + 2 + 2 // charset, status, capability upper
    val authLen = greet(p) & 0xff
    p += 1 + 10 // reserved
    val part2Len = math.max(13, authLen - 8)
    val noncePart2 = java.util.Arrays.copyOfRange(greet, p, p + part2Len)
    p += part2Len
    val plugin =
      if (p < greet.length) new String(greet, p, cstrEnd(greet, p) - p, UTF_8)
      else "mysql_native_password"
    // the 20-byte scramble is part1 + part2 minus its trailing NUL
    val nonce = noncePart1 ++ noncePart2.take(12)

    // CLIENT_SSL upgrade (protocol: "SSLRequest" — the first 32 bytes
    // of the handshake response, sent alone): everything after it,
    // including the full handshake response and the password material,
    // rides the TLS session. The packet sequence CONTINUES across the
    // upgrade (SSLRequest is seq 1, the response seq 2).
    if (sslMode == "require") {
      if ((capLow & 0x800) == 0)
        throw new IOException(
          "mysql: server lacks CLIENT_SSL but sslMode=require")
      val sslReq = new java.io.ByteArrayOutputStream()
      def w32(v: Int): Unit = {
        sslReq.write(v & 0xff); sslReq.write((v >> 8) & 0xff)
        sslReq.write((v >> 16) & 0xff); sslReq.write((v >> 24) & 0xff)
      }
      w32(Caps); w32(0x1000000)
      sslReq.write(45) // utf8mb4
      sslReq.write(new Array[Byte](23))
      writePacket(sslReq.toByteArray)
      val ssl = TlsLite.upgradeClient(socket, host, port,
        TlsLite.clientContext(sslRootCert, sslCert, sslKey))
      socket = ssl
      in = new DataInputStream(ssl.getInputStream)
      out = new DataOutputStream(ssl.getOutputStream)
    }

    val auth = scrambleFor(plugin, nonce)
    val buf = new java.io.ByteArrayOutputStream()
    def le32(v: Int): Unit = {
      buf.write(v & 0xff); buf.write((v >> 8) & 0xff)
      buf.write((v >> 16) & 0xff); buf.write((v >> 24) & 0xff)
    }
    le32(Caps)
    le32(0x1000000) // max packet
    buf.write(45) // utf8mb4
    buf.write(new Array[Byte](23))
    buf.write(user.getBytes(UTF_8)); buf.write(0)
    buf.write(auth.length) // CLIENT_SECURE_CONNECTION: 1-byte length
    buf.write(auth)
    buf.write(database.getBytes(UTF_8)); buf.write(0)
    buf.write(plugin.getBytes(UTF_8)); buf.write(0)
    writePacket(buf.toByteArray)

    var curNonce = nonce
    var done = false
    while (!done) {
      val r = readPacket()
      (r(0) & 0xff) match {
        case 0x00 => done = true // OK
        case 0xff => throw new IOException(s"mysql: auth failed: ${errOf(r)}")
        case 0xfe => // AuthSwitchRequest: plugin \0 new-nonce
          val pe = cstrEnd(r, 1)
          val newPlugin = new String(r, 1, pe - 1, UTF_8)
          val newNonce = java.util.Arrays.copyOfRange(r, pe + 1,
            math.min(r.length, pe + 21))
          curNonce = newNonce
          writePacket(scrambleFor(newPlugin, newNonce))
        case 0x01 => // caching_sha2 extra data: 3=fast ok (OK follows), 4=full
          (r(1) & 0xff) match {
            case 3 => // fast path accepted; OK packet follows
            case 4 if tlsActive =>
              // full auth over TLS — the production-default flow: the
              // NUL-terminated cleartext password rides the encrypted
              // link directly (no RSA exchange). OK/ERR on next turn.
              writePacket(password.getBytes(UTF_8) :+ 0.toByte)
            case 4 if serverPublicKey.isDefined =>
              // full auth, plain TCP, PINNED server key (the
              // --server-public-key-path equivalent): no key request, so
              // an active MITM can't substitute its own key
              writePacket(rsaEncryptPassword(password, curNonce,
                TlsLite.readPem(serverPublicKey.get)))
            case 4 =>
              // full auth (server cache miss): RSA key exchange — ask
              // for the server public key (0x02), then send the
              // nonce-XORed password encrypted under it. The OK/ERR
              // lands on the next loop turn.
              // CAVEAT (MySQL's documented --get-server-public-key
              // trade-off): the key arrives unauthenticated over plain
              // TCP, so an active MITM can substitute its own key and
              // recover the password from the payload. Pin the key via
              // `serverPublicKey` or use sslMode=require to close this.
              writePacket(Array[Byte](0x02))
              val keyPkt = readPacket()
              if ((keyPkt(0) & 0xff) == 0xff) throw new IOException(
                s"mysql: server refused key request: ${errOf(keyPkt)}")
              require((keyPkt(0) & 0xff) == 0x01,
                f"mysql: expected AuthMoreData with RSA key, got 0x${keyPkt(0) & 0xff}%02x")
              val pem = new String(keyPkt, 1, keyPkt.length - 1, UTF_8)
              writePacket(rsaEncryptPassword(password, curNonce, pem))
            case other =>
              throw new IOException(s"mysql: unexpected auth data $other")
          }
        case other =>
          throw new IOException(f"mysql: unexpected auth packet 0x$other%02x")
      }
    }
  }

  // ---- COM_QUERY (text protocol) -------------------------------------

  def query(sql: String): Result = {
    seq = 0 // each command restarts the sequence
    writePacket(Array[Byte](0x03) ++ sql.getBytes(UTF_8))
    val first = readPacket()
    (first(0) & 0xff) match {
      case 0x00 => Result(Nil, Nil) // OK, no result set (not used here)
      case 0xff => throw new IOException(s"mysql: query failed: ${errOf(first)}")
      case _ =>
        val (nCols, _) = lenencInt(first, 0)
        val fields = (0 until nCols.toInt).map { _ =>
          val d = readPacket()
          var p = 0
          // catalog, schema, table, org_table, name, org_name (lenenc strs)
          for (_ <- 0 until 4) p = lenencBytes(d, p)._2
          val (nameB, p1) = lenencBytes(d, p)
          p = lenencBytes(d, p1)._2 // org_name
          p += 1 // fixed-length fields length (0x0c)
          val charset = (d(p) & 0xff) | ((d(p + 1) & 0xff) << 8)
          val length = (d(p + 2) & 0xffL) | ((d(p + 3) & 0xffL) << 8) |
            ((d(p + 4) & 0xffL) << 16) | ((d(p + 5) & 0xffL) << 24)
          val tpe = d(p + 6) & 0xff
          val flags = (d(p + 7) & 0xff) | ((d(p + 8) & 0xff) << 8)
          val decimals = d(p + 9) & 0xff
          Field(new String(nameB, UTF_8), tpe, flags, charset, length,
            decimals)
        }
        // EOF after column definitions (no CLIENT_DEPRECATE_EOF)
        val eof1 = readPacket()
        require((eof1(0) & 0xff) == 0xfe, "mysql: expected EOF after columns")
        val rows = Seq.newBuilder[Array[Array[Byte]]]
        var done = false
        while (!done) {
          val r = readPacket()
          (r(0) & 0xff) match {
            case 0xfe if r.length < 9 => done = true // EOF
            case 0xff => throw new IOException(
              s"mysql: result aborted: ${errOf(r)}")
            case _ =>
              val vals = new Array[Array[Byte]](nCols.toInt)
              var p = 0
              var c = 0
              while (c < nCols.toInt) {
                if ((r(p) & 0xff) == 0xfb) { vals(c) = null; p += 1 }
                else {
                  val (v, np) = lenencBytes(r, p)
                  vals(c) = v; p = np
                }
                c += 1
              }
              rows += vals
          }
        }
        Result(fields, rows.result())
    }
  }

  override def close(): Unit = {
    try {
      seq = 0
      writePacket(Array[Byte](0x01)) // COM_QUIT
    } catch { case _: Exception => }
    socket.close()
  }
}

/** Text-protocol value decoding → Catalyst internal values. MySQL text
  * formats match PostgreSQL's for numbers/dates/datetimes; bools arrive
  * as TINYINT(1) "0"/"1", binary columns as raw bytes. */
object MyDecode {
  import org.apache.spark.unsafe.types.UTF8String

  def decode(v: Array[Byte], dt: DataType): Any = {
    if (v == null) return null
    lazy val s = new String(v, UTF_8)
    dt match {
      case BinaryType => v
      case StringType => UTF8String.fromBytes(v)
      case BooleanType => s == "1" || s == "true"
      case ByteType => s.toByte
      case ShortType => s.toShort
      case IntegerType => s.toInt
      case LongType => s.toLong
      case FloatType => s.toFloat
      case DoubleType => s.toDouble
      case d: DecimalType =>
        // scale overflow rounds rather than throwing (see PgDecode)
        org.apache.spark.sql.types.Decimal(
          new java.math.BigDecimal(s)
            .setScale(d.scale, java.math.RoundingMode.HALF_UP),
          d.precision, d.scale)
      case DateType => java.time.LocalDate.parse(s).toEpochDay.toInt
      case TimestampNTZType =>
        val ldt = java.time.LocalDateTime.parse(s.replace(' ', 'T'))
        ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
          ldt.getNano / 1000L
      case TimestampType =>
        // server renders in session time_zone; the connection pins UTC
        val ldt = java.time.LocalDateTime.parse(s.replace(' ', 'T'))
        ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
          ldt.getNano / 1000L
      case other =>
        throw new IOException(s"mysql: cannot decode text value into $other")
    }
  }
}

/** DataSource V2 provider: `spark.read.format("mysql")` with the same
  * option surface as [[PostgresDataSource]] (host/port/database/user/
  * password/dbtable/partitionColumn/numPartitions) and the same
  * pushdown behavior, quoted with backticks. */
class MySqlDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "mysql"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val o = MyOptions(options)
    val conn = o.connect()
    try {
      val r = conn.query(s"SELECT * FROM ${o.quotedTable} LIMIT 0")
      StructType(r.fields.map(f =>
        StructField(f.name, f.sparkType, nullable = true)))
    } finally conn.close()
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new MySqlTable(schema, properties)
}

final case class MyOptions(host: String, port: Int, database: String,
    user: String, password: String, table: String,
    partitionColumn: Option[String], numPartitions: Int,
    sslMode: String = "disable", sslRootCert: Option[String] = None,
    serverPublicKey: Option[String] = None,
    sslCert: Option[String] = None, sslKey: Option[String] = None) {
  def connect(): MyConnection =
    new MyConnection(host, port, database, user, password, sslMode,
      sslRootCert, serverPublicKey, sslCert, sslKey)
  def quotedTable: String =
    table.split('.').map(p => "`" + p.replace("`", "``") + "`").mkString(".")
}

object MyOptions {
  def apply(o: java.util.Map[String, String]): MyOptions = {
    val m = new CaseInsensitiveStringMap(o)
    def req(k: String): String = Option(m.get(k)).getOrElse(
      throw new IllegalArgumentException(s"mysql source: missing option '$k'"))
    MyOptions(
      host = Option(m.get("host")).getOrElse("localhost"),
      port = Option(m.get("port")).map(_.toInt).getOrElse(3306),
      database = req("database"),
      user = Option(m.get("user")).getOrElse("root"),
      password = Option(m.get("password")).getOrElse(""),
      table = req("dbtable"),
      partitionColumn = Option(m.get("partitionColumn")),
      numPartitions = Option(m.get("numPartitions")).map(_.toInt).getOrElse(1),
      sslMode = Option(m.get("sslmode")).getOrElse("disable"),
      sslRootCert = Option(m.get("sslrootcert")),
      serverPublicKey = Option(m.get("serverPublicKey")),
      sslCert = Option(m.get("sslcert")),
      sslKey = Option(m.get("sslkey")))
  }
}

class MySqlTable(tableSchema: StructType,
    properties: java.util.Map[String, String])
    extends Table with SupportsRead {
  private val opts = MyOptions(properties)
  override def name(): String =
    s"mysql:${opts.host}:${opts.port}/${opts.database}.${opts.table}"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new MySqlScanBuilder(opts, tableSchema)
}

class MySqlScanBuilder(opts: MyOptions, full: StructType)
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {
  private var required: StructType = full
  private var pushed: Array[Filter] = Array.empty

  private def compile(f: Filter): Option[String] =
    SqlFilter.compile(f, a => "`" + a.replace("`", "``") + "`")

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(f => compile(f).isDefined)
    filters.filter(f => compile(f).isEmpty)
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan =
    new MySqlScan(opts, required, pushed.flatMap(compile(_).toSeq))
}

class MySqlScan(opts: MyOptions, required: StructType,
    where: Array[String]) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"MySqlScan ${opts.quotedTable}" +
      (if (where.nonEmpty) s", PushedFilters: [${where.mkString(", ")}]"
       else "")

  override def planInputPartitions(): Array[InputPartition] =
    SqlFilter.selects(opts.quotedTable, required, where, opts.partitionColumn,
      opts.numPartitions, c => "`" + c.replace("`", "``") + "`",
      sql => {
        val conn = opts.connect()
        try {
          val row = conn.query(sql).rows.headOption
            .getOrElse(Array[Array[Byte]](null, null))
            .map(c => if (c == null) null else new String(c, UTF_8))
          (row(0), row(1))
        } finally conn.close()
      }).zipWithIndex.map { case (sql, i) => MyPartition(i, sql): InputPartition }.toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new MyReaderFactory(opts, required)
}

final case class MyPartition(index: Int, sql: String) extends InputPartition

class MyReaderFactory(opts: MyOptions, required: StructType)
    extends PartitionReaderFactory {
  override def createReader(
      partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[MyPartition]
    new PartitionReader[InternalRow] {
      private var conn: MyConnection = _
      private var it: Iterator[Array[Array[Byte]]] = _
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
          if (i < row.length) vals(i) = MyDecode.decode(row(i), types(i))
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

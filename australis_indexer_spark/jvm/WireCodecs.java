package australis_indexer_spark.jvm;

import java.io.ByteArrayOutputStream;
import java.nio.BufferUnderflowException;
import java.nio.ByteBuffer;
import java.nio.charset.CharacterCodingException;
import java.nio.charset.StandardCharsets;
import java.util.Arrays;
import java.util.zip.DataFormatException;
import java.util.zip.Deflater;
import java.util.zip.Inflater;

import org.apache.spark.sql.Row;
import org.apache.spark.sql.RowFactory;
import org.apache.spark.sql.api.java.UDF1;
import org.apache.spark.sql.expressions.UserDefinedFunction;
import org.apache.spark.sql.functions;
import org.apache.spark.sql.types.DataTypes;
import org.apache.spark.sql.types.StructType;

/**
 * The envelope's wire codecs on the JVM, with the wire formats and the
 * decode contract of {@code functions/codecs.py}.
 *
 * <p>Payload compression: ZLIB through java.util.zip, one whole zlib
 * stream per value. LZ4F and ZSTD stay on the Python codecs (pyarrow's
 * liblz4 and libzstd) in every session.
 *
 * <p>The CBOR envelope: the map of the five {@code ENVELOPE_SCHEMA} fields
 * in schema order, each value of its field's type or null, with shortest
 * heads; the bytes of {@code codecs.cbor_dumps} of the row's dict. The
 * decoder takes that key order only.
 *
 * <p>Malformed input (empty, truncated, corrupt, another layout, or
 * followed by trailing bytes) throws {@link IllegalArgumentException} and
 * nothing else.
 *
 * <p>The UDF factories live here because py4j resolves
 * {@code functions.udf(obj, dataType)} to the untyped Scala overload, which
 * Spark refuses.
 */
public final class WireCodecs {
  private WireCodecs() {}

  /** {@code zlib.compress(data)}: the default level, byte for byte. */
  public static byte[] zlibCompress(byte[] data) {
    Deflater d = new Deflater();
    try {
      d.setInput(data);
      d.finish();
      ByteArrayOutputStream out = new ByteArrayOutputStream(data.length / 2 + 64);
      byte[] buf = new byte[(int) Math.min(data.length + 64L, 1 << 16)];
      while (!d.finished()) {
        out.write(buf, 0, d.deflate(buf));
      }
      return out.toByteArray();
    } finally {
      d.end();
    }
  }

  /** One zlib stream, all of the input: no less (truncated), no more (trailing). */
  public static byte[] zlibDecompress(byte[] data) {
    if (data.length == 0) {
      throw malformed("empty stream");
    }
    Inflater inf = new Inflater();
    try {
      inf.setInput(data);
      int size = outputBufferSize(data.length);
      ByteArrayOutputStream out = new ByteArrayOutputStream(size);
      byte[] buf = new byte[size];
      while (!inf.finished()) {
        int n = inf.inflate(buf);
        if (n == 0 && !inf.finished()) {
          throw malformed(inf.needsDictionary() ? "preset dictionary" : "truncated stream");
        }
        out.write(buf, 0, n);
      }
      if (inf.getRemaining() > 0) {
        throw malformed("trailing bytes after the stream");
      }
      return out.toByteArray();
    } catch (DataFormatException e) {
      throw malformed(e.getMessage());
    } finally {
      inf.end();
    }
  }

  /**
   * The first output buffer for {@code compressed} input bytes: four times
   * that plus 64, at most 64 KiB, in long arithmetic so that no input size
   * overflows it; the output grows on demand past it.
   */
  public static int outputBufferSize(int compressed) {
    return (int) Math.min(4L * compressed + 64, 1 << 16);
  }

  /** A one-column UDF: binary in, {@link #zlibCompress} out, null kept. */
  public static UserDefinedFunction zlibCompressUdf() {
    return functions.udf(new ZlibCompress(), DataTypes.BinaryType);
  }

  /** A one-column UDF: binary in, {@link #zlibDecompress} out, null kept. */
  public static UserDefinedFunction zlibDecompressUdf() {
    return functions.udf(new ZlibDecompress(), DataTypes.BinaryType);
  }

  /** The envelope's fields in wire order, and each value's CBOR major type. */
  private static final String[] FIELDS = {
    "sequence_id", "subject", "msg_format", "compression", "payload"
  };
  private static final int UINT = 0, BYTES = 2, TEXT = 3;
  private static final int[] MAJOR = {UINT, TEXT, TEXT, TEXT, BYTES};
  private static final int NULL = 0xF6;
  private static final StructType ENVELOPE = new StructType()
      .add(FIELDS[0], DataTypes.LongType)
      .add(FIELDS[1], DataTypes.StringType)
      .add(FIELDS[2], DataTypes.StringType)
      .add(FIELDS[3], DataTypes.StringType)
      .add(FIELDS[4], DataTypes.BinaryType);
  /** Each key as CBOR text, the first after the head of a map of five. */
  private static final byte[][] KEYS = new byte[FIELDS.length][];

  static {
    for (int i = 0; i < FIELDS.length; i++) {
      ByteArrayOutputStream key = new ByteArrayOutputStream();
      if (i == 0) {
        head(key, 5, FIELDS.length);
      }
      byte[] name = FIELDS[i].getBytes(StandardCharsets.US_ASCII);
      head(key, TEXT, name.length);
      key.write(name, 0, name.length);
      KEYS[i] = key.toByteArray();
    }
  }

  /** One envelope's CBOR bytes; {@code values} in {@code FIELDS} order. */
  public static byte[] encodeEnvelope(Object[] values) {
    ByteArrayOutputStream out = new ByteArrayOutputStream(128);
    for (int i = 0; i < FIELDS.length; i++) {
      out.write(KEYS[i], 0, KEYS[i].length);
      Object v = values[i];
      if (v == null) {
        out.write(NULL);
      } else if (MAJOR[i] == UINT) {
        long n = (Long) v;
        head(out, n >= 0 ? UINT : 1, n >= 0 ? n : -1 - n);
      } else {
        byte[] b = MAJOR[i] == TEXT ? ((String) v).getBytes(StandardCharsets.UTF_8) : (byte[]) v;
        head(out, MAJOR[i], b.length);
        out.write(b, 0, b.length);
      }
    }
    return out.toByteArray();
  }

  /** The inverse of {@link #encodeEnvelope}, for exactly its layout. */
  public static Object[] decodeEnvelope(byte[] wire) {
    ByteBuffer in = ByteBuffer.wrap(wire);
    Object[] values = new Object[FIELDS.length];
    try {
      for (int i = 0; i < FIELDS.length; i++) {
        byte[] key = new byte[KEYS[i].length];
        in.get(key);
        if (!Arrays.equals(key, KEYS[i])) {
          throw new IllegalArgumentException(
              "from_wire: not the canonical envelope map at key " + FIELDS[i]);
        }
        int ib = in.get() & 0xFF;
        if (ib == NULL) {
          continue;
        }
        int major = ib >>> 5;
        long arg = argument(in, ib & 0x1F);
        if (MAJOR[i] == UINT && (major == 0 || major == 1)) {
          if (arg < 0) {  // above Long.MAX_VALUE as an unsigned head
            throw new IllegalArgumentException("from_wire: " + FIELDS[i] + ": integer out of range");
          }
          values[i] = major == 0 ? arg : -1 - arg;
        } else if (major == MAJOR[i]) {
          if (arg < 0 || arg > in.remaining()) {
            throw new IllegalArgumentException("from_wire: truncated wire");
          }
          byte[] b = new byte[(int) arg];
          in.get(b);
          values[i] = major == TEXT ? utf8(b, FIELDS[i]) : b;
        } else {
          throw new IllegalArgumentException("from_wire: " + FIELDS[i] + ": unexpected CBOR head");
        }
      }
    } catch (BufferUnderflowException e) {
      throw new IllegalArgumentException("from_wire: truncated wire");
    }
    if (in.hasRemaining()) {
      throw new IllegalArgumentException("from_wire: trailing bytes after the envelope");
    }
    return values;
  }

  /** A one-column UDF: the envelope struct in, its CBOR bytes out. */
  public static UserDefinedFunction envelopeEncodeUdf() {
    return functions.udf(new EnvelopeEncode(), DataTypes.BinaryType);
  }

  /** A one-column UDF: CBOR bytes in, the envelope struct out (null kept). */
  public static UserDefinedFunction envelopeDecodeUdf() {
    return functions.udf(new EnvelopeDecode(), ENVELOPE);
  }

  private static final class EnvelopeEncode implements UDF1<Row, byte[]> {
    private static final long serialVersionUID = 1L;

    @Override
    public byte[] call(Row r) {
      Object[] values = new Object[FIELDS.length];
      for (int i = 0; i < values.length; i++) {
        values[i] = r.get(i);
      }
      return encodeEnvelope(values);
    }
  }

  private static final class EnvelopeDecode implements UDF1<byte[], Row> {
    private static final long serialVersionUID = 1L;

    @Override
    public Row call(byte[] wire) {
      return wire == null ? null : RowFactory.create(decodeEnvelope(wire));
    }
  }

  /** A CBOR head: major type and argument, in its shortest form. */
  private static void head(ByteArrayOutputStream out, int major, long arg) {
    int mt = major << 5;
    if (arg < 24) {
      out.write(mt | (int) arg);
      return;
    }
    int width = arg < 0x100 ? 1 : arg < 0x10000 ? 2 : arg < 0x100000000L ? 4 : 8;
    out.write(mt | (24 + Integer.numberOfTrailingZeros(width)));
    for (int shift = 8 * (width - 1); shift >= 0; shift -= 8) {
      out.write((int) (arg >>> shift));
    }
  }

  /** A head's argument (unsigned; negative when it exceeds Long.MAX_VALUE). */
  private static long argument(ByteBuffer in, int info) {
    switch (info) {
      case 24:
        return in.get() & 0xFFL;
      case 25:
        return in.getShort() & 0xFFFFL;
      case 26:
        return in.getInt() & 0xFFFFFFFFL;
      case 27:
        return in.getLong();
      default:
        if (info < 24) {
          return info;
        }
        throw new IllegalArgumentException("from_wire: reserved or indefinite CBOR head");
    }
  }

  private static String utf8(byte[] b, String field) {
    try {
      return StandardCharsets.UTF_8.newDecoder().decode(ByteBuffer.wrap(b)).toString();
    } catch (CharacterCodingException e) {
      throw new IllegalArgumentException("from_wire: " + field + ": invalid UTF-8");
    }
  }


  private static final class ZlibCompress implements UDF1<byte[], byte[]> {
    private static final long serialVersionUID = 1L;

    @Override
    public byte[] call(byte[] b) {
      return b == null ? null : zlibCompress(b);
    }
  }

  private static final class ZlibDecompress implements UDF1<byte[], byte[]> {
    private static final long serialVersionUID = 1L;

    @Override
    public byte[] call(byte[] b) {
      return b == null ? null : zlibDecompress(b);
    }
  }

  private static IllegalArgumentException malformed(String why) {
    return new IllegalArgumentException("ZLIB: " + why);
  }
}

package australis_indexer_spark.jvm;

import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.ChecksumFs;
import org.apache.hadoop.fs.DelegateToFileSystem;
import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.FsConstants;
import org.apache.hadoop.fs.FsServerDefaults;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.local.LocalConfigKeys;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's raw local filesystem without the shell-outs it makes when no
 * native libhadoop is loaded: a {@code chmod} per created file or directory
 * and a {@code readlink} per {@code getFileLinkStatus}. Both go through
 * java.nio instead. Sticky-bit modes and symlinks keep the stock path.
 */
public class NioLocalFs extends RawLocalFileSystem {
  private static final PosixFilePermission[] BITS = PosixFilePermission.values();

  @Override
  public void setPermission(Path p, FsPermission permission) throws IOException {
    if (permission.getStickyBit()) {
      super.setPermission(p, permission);
      return;
    }
    // BITS runs OWNER_READ .. OTHERS_EXECUTE, i.e. mode bits 0400 .. 0001
    short mode = permission.toShort();
    Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
    for (int i = 0; i < BITS.length; i++) {
      if ((mode & (0400 >> i)) != 0) {
        perms.add(BITS[i]);
      }
    }
    Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
  }

  @Override
  public FileStatus getFileLinkStatus(Path f) throws IOException {
    if (Files.isSymbolicLink(pathToFile(f).toPath())) {
      return super.getFileLinkStatus(f);
    }
    return getFileStatus(f);
  }

  /**
   * The FileSystem API ({@code fs.file.impl}): checksummed, like LocalFileSystem.
   * Without this setting the service loader picks Hive's ProxyLocalFileSystem
   * for file: on a stock pyspark install, whose rename does not replace an
   * existing file (as on HDFS); so neither does this one.
   */
  public static class Local extends LocalFileSystem {
    public Local() {
      super(new NioLocalFs());
    }

    @Override
    @SuppressWarnings("deprecation")
    public boolean rename(Path src, Path dst) throws IOException {
      return !isFile(dst) && super.rename(src, dst);
    }
  }

  /** The FileContext API ({@code fs.AbstractFileSystem.file.impl}), like LocalFs. */
  public static class Fs extends ChecksumFs {
    public Fs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(new Raw(conf));
    }
  }

  /** RawLocalFs over NioLocalFs. */
  static class Raw extends DelegateToFileSystem {
    Raw(Configuration conf) throws IOException, URISyntaxException {
      super(FsConstants.LOCAL_FS_URI, new NioLocalFs(), conf,
          FsConstants.LOCAL_FS_URI.getScheme(), false);
    }

    @Override
    public int getUriDefaultPort() {
      return -1;
    }

    @Override
    public FsServerDefaults getServerDefaults(Path f) throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    @Deprecated
    public FsServerDefaults getServerDefaults() throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    public boolean isValidName(String src) {
      return true;
    }
  }
}

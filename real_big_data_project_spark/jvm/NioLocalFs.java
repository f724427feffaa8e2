package real_big_data_project_spark.jvm;

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
 * Hadoop's checksummed local filesystem without a shell process per call.
 * Without libhadoop, RawLocalFileSystem runs `chmod` for every
 * setPermission and `readlink` for every getFileLinkStatus (two per
 * FileContext.rename); here both run in the JVM through java.nio.file.
 * Files, modes and .crc sidecars are the same as Hadoop's.
 *
 * This class serves FileContext (fs.AbstractFileSystem.file.impl: streaming
 * checkpoints and state stores), like Hadoop's LocalFs; {@link Local}
 * serves FileSystem (fs.file.impl: parquet writers, output committers),
 * like LocalFileSystem.
 */
public class NioLocalFs extends ChecksumFs {
  /** Like Hadoop's LocalFs, always the local URI whatever {@code uri} says. */
  public NioLocalFs(URI uri, Configuration conf) throws IOException, URISyntaxException {
    super(new Delegate(FsConstants.LOCAL_FS_URI, conf));
  }

  public static class Raw extends RawLocalFileSystem {
    /** Modes with sticky or setuid bits keep Hadoop's path. */
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      short mode = permission.toShort();
      if ((mode & ~0777) != 0) {
        super.setPermission(p, permission);
        return;
      }
      Set<PosixFilePermission> bits = EnumSet.noneOf(PosixFilePermission.class);
      for (PosixFilePermission b : PosixFilePermission.values()) {  // OWNER_READ .. OTHERS_EXECUTE
        if ((mode & (0400 >> b.ordinal())) != 0) {
          bits.add(b);
        }
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath(), bits);
    }

    /**
     * Hadoop runs `readlink` on the qualified "file:/..." string, which
     * fails for every path, and then answers getFileStatus(f); a real
     * symlink still goes to Hadoop.
     */
    @Override
    public FileStatus getFileLinkStatus(Path f) throws IOException {
      if (Files.isSymbolicLink(pathToFile(f).toPath())) {
        return super.getFileLinkStatus(f);
      }
      return getFileStatus(f);
    }
  }

  /** The checksummed FileSystem over {@link Raw}, for fs.file.impl. */
  public static class Local extends LocalFileSystem {
    public Local() {
      super(new Raw());
    }
  }

  /** Hadoop's RawLocalFs over {@link Raw}: its constructors are package-private. */
  static class Delegate extends DelegateToFileSystem {
    Delegate(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(uri, new Raw(), conf, FsConstants.LOCAL_FS_URI.getScheme(), false);
    }

    @Override
    public int getUriDefaultPort() {
      return -1;
    }

    @Override
    @Deprecated
    public FsServerDefaults getServerDefaults() throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    public FsServerDefaults getServerDefaults(Path f) throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    public boolean isValidName(String src) {
      return true;
    }
  }
}

package autoprepad_spark.jvm;

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
import org.apache.hadoop.fs.FsConstants;
import org.apache.hadoop.fs.FsServerDefaults;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.local.LocalConfigKeys;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's checksummed local file system with permissions set through
 * java.nio instead of a chmod child process.
 *
 * <p>Without the native Hadoop library, RawLocalFileSystem.setPermission
 * runs {@code chmod} through a shell for every file it creates and every
 * directory it makes, so each parquet part file, its .crc sidecar and each
 * task attempt directory fork the JVM once. This class changes only that
 * call: the mode bits are the same, set in-process.
 *
 * <p>{@link Fs} is the same for Hadoop's FileContext API
 * ({@code fs.AbstractFileSystem.file.impl}), through which Spark writes
 * streaming checkpoints: the offset, commit and source logs.
 */
public class NioLocalFileSystem extends LocalFileSystem {

  public NioLocalFileSystem() {
    super(new Raw());
  }

  /** RawLocalFileSystem whose setPermission never leaves the JVM. */
  public static class Raw extends RawLocalFileSystem {

    /** PosixFilePermission for mode bit i (bit 0 = others execute). */
    private static final PosixFilePermission[] BITS = {
      PosixFilePermission.OTHERS_EXECUTE, PosixFilePermission.OTHERS_WRITE,
      PosixFilePermission.OTHERS_READ, PosixFilePermission.GROUP_EXECUTE,
      PosixFilePermission.GROUP_WRITE, PosixFilePermission.GROUP_READ,
      PosixFilePermission.OWNER_EXECUTE, PosixFilePermission.OWNER_WRITE,
      PosixFilePermission.OWNER_READ,
    };

    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      if (permission.getStickyBit()) {
        // java.nio cannot set the sticky bit; keep Hadoop's own path
        super.setPermission(p, permission);
        return;
      }
      short mode = permission.toShort();
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      for (int i = 0; i < BITS.length; i++) {
        if ((mode & (1 << i)) != 0) {
          perms.add(BITS[i]);
        }
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
    }
  }

  /**
   * Hadoop's checksummed FileContext local file system (LocalFs) over
   * {@link Raw}. LocalFs and RawLocalFs keep their constructors
   * package-private, so this rebuilds them: the same scheme, URI and
   * server defaults, with the raw layer swapped.
   */
  public static class Fs extends ChecksumFs {

    public Fs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(new RawFs(conf));
    }
  }

  /** RawLocalFs with {@link Raw} as the delegate. */
  static class RawFs extends DelegateToFileSystem {

    RawFs(Configuration conf) throws IOException, URISyntaxException {
      super(FsConstants.LOCAL_FS_URI, new Raw(), conf,
          FsConstants.LOCAL_FS_URI.getScheme(), false);
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

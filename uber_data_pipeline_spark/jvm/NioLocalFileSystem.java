package uber_data_pipeline_spark.jvm;

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
 * Hadoop's checksummed local filesystem without its two process
 * spawns. Without native libhadoop, {@link RawLocalFileSystem} runs a
 * {@code chmod} process for every file and directory a write creates
 * and a {@code readlink} process for every link-status lookup (each
 * FileContext rename does several). {@link Raw} answers both with
 * java.nio; every other call, checksums included, is Hadoop's own.
 *
 * <p>{@code fs.file.impl} names this class, and
 * {@code fs.AbstractFileSystem.file.impl} names {@link Fs}, its
 * FileContext twin.
 */
public class NioLocalFileSystem extends LocalFileSystem {

  public NioLocalFileSystem() {
    super(new Raw());
  }

  /** The raw local filesystem with nio permissions and link checks. */
  public static class Raw extends RawLocalFileSystem {

    // rwxrwxrwx, high bit first: the enum lists owner, group, others
    private static final PosixFilePermission[] BITS = PosixFilePermission.values();

    /** The rwx bits through one nio call. A sticky bit is Hadoop's to set. */
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      if (permission.getStickyBit()) {
        super.setPermission(p, permission);
        return;
      }
      short mode = permission.toShort();
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      for (int i = 0; i < BITS.length; i++) {
        if ((mode & (0400 >> i)) != 0) {
          perms.add(BITS[i]);
        }
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
    }

    /**
     * One lstat: a path that is not a symlink gets its file status,
     * which is what Hadoop returns there; an actual symlink goes to
     * Hadoop's own code.
     */
    @Override
    public FileStatus getFileLinkStatus(Path f) throws IOException {
      if (!Files.isSymbolicLink(pathToFile(f).toPath())) {
        return getFileStatus(f);
      }
      return super.getFileLinkStatus(f);
    }
  }

  /** FileContext's local filesystem (Hadoop's LocalFs) over {@link Raw}. */
  public static class Fs extends ChecksumFs {
    public Fs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(new RawFs(conf));
    }
  }

  /** Hadoop's RawLocalFs, delegating to {@link Raw}. */
  static class RawFs extends DelegateToFileSystem {
    RawFs(Configuration conf) throws IOException, URISyntaxException {
      super(FsConstants.LOCAL_FS_URI, new Raw(), conf,
          FsConstants.LOCAL_FS_URI.getScheme(), false);
    }

    @Override
    public int getUriDefaultPort() {
      return -1; // file:/// has no port
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
      return true; // the OS validates local names
    }
  }
}

package mini_pandas_spark.jvm;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * The local file system with an in-process {@code setPermission}.  Without
 * libhadoop, {@link RawLocalFileSystem#setPermission} forks {@code chmod} for
 * every permissioned create and mkdir; this one sets the same mode through
 * NIO.  It stays a {@link LocalFileSystem}, which {@code FileSystem.getLocal}
 * casts to.
 */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new Raw());
  }

  /**
   * Rename onto an existing file fails, as Hadoop's FileSystem contract
   * says; the raw file system would replace it.  This is what the local
   * file system a Spark session otherwise gets does (Hive's
   * ProxyLocalFileSystem, registered for "file" by hive-exec).
   */
  @Override
  public boolean rename(Path src, Path dst) throws IOException {
    return !isFile(dst) && super.rename(src, dst);
  }

  static class Raw extends RawLocalFileSystem {
    // PosixFilePermission's declaration order is owner r/w/x, group r/w/x,
    // others r/w/x: mode bit 8 down to bit 0.
    private static final PosixFilePermission[] BITS = PosixFilePermission.values();

    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      int mode = permission.toShort();
      if ((mode & ~0777) != 0) {  // sticky bit: NIO cannot set it
        super.setPermission(p, permission);
        return;
      }
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      for (int i = 0; i < BITS.length; i++) {
        if ((mode & (0400 >> i)) != 0) {
          perms.add(BITS[i]);
        }
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
    }
  }
}

package sparkgraft;

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
 * Hadoop's checksummed local filesystem over a raw one that sets the nine
 * rwx bits with chmod(2) through java.nio.  Without libhadoop,
 * RawLocalFileSystem forks /bin/chmod for that on every create and mkdir.
 * A mode with bits above 0777 (sticky) keeps Hadoop's own path.
 */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new Raw());
  }

  public static class Raw extends RawLocalFileSystem {
    /** OWNER_READ .. OTHERS_EXECUTE: the bits 0400 .. 0001, in that order. */
    private static final PosixFilePermission[] BITS = PosixFilePermission.values();

    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      int mode = permission.toShort();
      if ((mode & ~0777) != 0) {
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

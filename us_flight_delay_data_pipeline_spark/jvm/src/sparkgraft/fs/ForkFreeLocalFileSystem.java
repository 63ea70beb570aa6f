package sparkgraft.fs;

import java.io.FileNotFoundException;
import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.NoSuchFileException;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/** Checksummed local filesystem ({@code fs.file.impl}) over {@link Raw}. */
public class ForkFreeLocalFileSystem extends LocalFileSystem {
  public ForkFreeLocalFileSystem() {
    super(new Raw());
  }

  /**
   * Without libhadoop, RawLocalFileSystem runs a chmod process per
   * setPermission; this override does the same work in-process.
   */
  public static class Raw extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      short mode = permission.toShort();
      if ((mode & ~0777) != 0) {  // sticky/setuid: not a PosixFilePermission
        super.setPermission(p, permission);
        return;
      }
      // PosixFilePermission's order is owner rwx, group rwx, others rwx.
      Set<PosixFilePermission> bits = EnumSet.noneOf(PosixFilePermission.class);
      for (PosixFilePermission bit : PosixFilePermission.values()) {
        if ((mode & (0400 >> bit.ordinal())) != 0) {
          bits.add(bit);
        }
      }
      try {
        Files.setPosixFilePermissions(pathToFile(p).toPath(), bits);
      } catch (NoSuchFileException e) {
        throw new FileNotFoundException(e.getMessage());
      }
    }
  }
}

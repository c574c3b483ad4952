package youtube_data_lakehouse_and_analysis_spark.jvm;

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
 * Hadoop's checksummed local file system, except that permissions are set
 * in-process. Without libhadoop, RawLocalFileSystem.setPermission forks one
 * {@code chmod} per file, .crc file and directory a write creates.
 */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new Raw());
  }

  public static class Raw extends RawLocalFileSystem {
    // PosixFilePermission's constants run OWNER_READ .. OTHERS_EXECUTE,
    // i.e. mode bit 8 down to mode bit 0.
    private static final PosixFilePermission[] BITS = PosixFilePermission.values();

    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      short mode = permission.toShort();
      if ((mode & ~0777) != 0) {
        super.setPermission(p, permission); // sticky/setuid/setgid: keep chmod's semantics
        return;
      }
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      for (int bit = 0; bit < 9; bit++) {
        if ((mode & (1 << bit)) != 0) {
          perms.add(BITS[8 - bit]);
        }
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
    }
  }
}

package pdf_parser_spark;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/** Hadoop's checksummed local file system, except that modes are set in the
 * JVM: without native-hadoop, Hadoop forks a chmod for every file and
 * directory it creates. Each mode equals what that chmod would set. */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() { super(new Raw()); }

  static class Raw extends RawLocalFileSystem {
    private static final PosixFilePermission[] BITS = PosixFilePermission.values();
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      java.nio.file.Path file = pathToFile(p).toPath();
      int mode = permission.toShort();
      // a sticky, setuid or setgid bit, asked for or already set: chmod's rules
      if (mode > 0777 || ((Integer) Files.getAttribute(file, "unix:mode") & 07000) != 0) {
        super.setPermission(p, permission);
        return;
      }
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      for (int i = 0; i < 9; i++) if ((mode & (0400 >> i)) != 0) perms.add(BITS[i]);
      Files.setPosixFilePermissions(file, perms);
    }
  }
}

package dataworks_aws_corporate_data_ingestion_spark.jvm;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * The checksummed local filesystem over a raw one whose setPermission is an
 * in-process NIO call.  Without the native Hadoop library the stock
 * RawLocalFileSystem forks a chmod for every file and directory it creates.
 */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new Raw());
  }

  public static class Raw extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      if (permission.getStickyBit()) {
        // NIO's permission set cannot express the sticky bit
        super.setPermission(p, permission);
        return;
      }
      // PosixFilePermission.values() runs OWNER_READ (0400) .. OTHERS_EXECUTE (0001)
      PosixFilePermission[] bits = PosixFilePermission.values();
      EnumSet<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      for (int i = 0; i < bits.length; i++) {
        if ((permission.toShort() & (0400 >> i)) != 0) {
          perms.add(bits[i]);
        }
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
    }
  }
}

package geomesaspark.fs;

import java.io.IOException;
import java.nio.file.Files;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * The {@code file:} filesystem with permissions set by a system call.
 *
 * Without Hadoop's native library, {@link RawLocalFileSystem#setPermission}
 * runs {@code Shell.execCommand("chmod", ...)}: one forked process for every
 * data file, {@code .crc} sidecar and directory a parquet write creates.
 * Here the mode is set with {@code Files.setAttribute(path, "unix:mode")},
 * one {@code chmod(2)} that also carries the sticky and setuid bits.
 *
 * Still a {@link LocalFileSystem}, so checksums are written and verified as
 * before. Activated with {@code spark.hadoop.fs.file.impl} (see
 * geomesa_spark/session.py).
 */
public class NoForkLocalFileSystem extends LocalFileSystem {

  public NoForkLocalFileSystem() {
    super(new Raw());
  }

  static final class Raw extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      try {
        Files.setAttribute(pathToFile(p).toPath(), "unix:mode", (int) permission.toShort());
      } catch (UnsupportedOperationException e) {
        super.setPermission(p, permission);  // no "unix" attribute view
      }
    }
  }
}

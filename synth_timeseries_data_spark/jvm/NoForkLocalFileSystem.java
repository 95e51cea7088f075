package synth_timeseries_data_spark.jvm;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermissions;

import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's {@code file:} FileSystem, with permissions set in-process.
 *
 * <p>Without the native libhadoop, {@link RawLocalFileSystem#setPermission}
 * starts a {@code chmod} process, and the local FileSystem calls it for
 * every data file, every {@code .crc} file and every directory it creates.
 * {@link Raw} sets the same mode bits through {@code java.nio}; the sticky
 * bit, which NIO cannot express, still goes through the stock path.
 *
 * <p>Spark ships Hive, whose {@code ProxyLocalFileSystem} is the stock
 * {@code file:} FileSystem of a Spark JVM; its one change to
 * {@link LocalFileSystem} is the rename rule below, kept so that swapping
 * the FileSystem changes nothing but how modes are set.
 */
public class NoForkLocalFileSystem extends LocalFileSystem {

  public NoForkLocalFileSystem() {
    super(new Raw());
  }

  /** Refuses to rename onto an existing file, where Raw would replace it. */
  @Override
  public boolean rename(Path src, Path dst) throws IOException {
    return !isFile(dst) && super.rename(src, dst);
  }

  /** RawLocalFileSystem whose {@code setPermission} starts no process. */
  public static class Raw extends RawLocalFileSystem {

    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      if (permission.getStickyBit()) {
        super.setPermission(p, permission);
        return;
      }
      // without the sticky bit, toString() is the nine-letter "rwxr-x---" form
      Files.setPosixFilePermissions(
          pathToFile(p).toPath(), PosixFilePermissions.fromString(permission.toString()));
    }
  }
}

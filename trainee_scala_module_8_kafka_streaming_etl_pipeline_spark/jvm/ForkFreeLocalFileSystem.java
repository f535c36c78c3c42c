package streamingetl.hadoop;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermissions;

import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;
import org.apache.hadoop.io.nativeio.NativeIO;

/**
 * Hadoop's checksummed local filesystem, with permission changes made
 * through java.nio instead of a forked {@code chmod}.
 *
 * <p>Without the native Hadoop library, {@link RawLocalFileSystem#setPermission}
 * starts a shell process, and {@code create} and {@code mkdirs} call it for
 * every file and directory they make (each data file and its {@code .crc}).
 * {@code Files.setPosixFilePermissions} is the same {@code chmod(2)} in-process.
 * Everything else, the {@code .crc} side files included, is Hadoop's own code.
 */
public class ForkFreeLocalFileSystem extends LocalFileSystem {
  public ForkFreeLocalFileSystem() {
    super(new Raw());
  }

  static final class Raw extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      // the native library's chmod needs no fork; NIO cannot set the sticky bit
      if (NativeIO.isAvailable() || permission.getStickyBit()) {
        super.setPermission(p, permission);
        return;
      }
      Files.setPosixFilePermissions(
          pathToFile(p).toPath(),
          PosixFilePermissions.fromString(
              permission.getUserAction().SYMBOL
                  + permission.getGroupAction().SYMBOL
                  + permission.getOtherAction().SYMBOL));
    }
  }
}

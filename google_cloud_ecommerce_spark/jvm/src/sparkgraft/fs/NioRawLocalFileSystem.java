package sparkgraft.fs;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermissions;

import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * RawLocalFileSystem that never spawns a process. Without libhadoop the
 * stock class runs {@code chmod} for every setPermission and
 * {@code readlink} for every getFileLinkStatus; both are answered here
 * with java.nio. Symlinks and modes with bits above 0777 (sticky) keep
 * the stock code path.
 */
public class NioRawLocalFileSystem extends RawLocalFileSystem {
  @Override
  public void setPermission(Path p, FsPermission permission) throws IOException {
    if ((permission.toShort() & ~0777) != 0) {
      super.setPermission(p, permission);
      return;
    }
    String rwx = permission.getUserAction().SYMBOL + permission.getGroupAction().SYMBOL
        + permission.getOtherAction().SYMBOL;
    Files.setPosixFilePermissions(pathToFile(p).toPath(), PosixFilePermissions.fromString(rwx));
  }

  @Override
  public FileStatus getFileLinkStatus(Path f) throws IOException {
    if (Files.isSymbolicLink(pathToFile(f).toPath())) {
      return super.getFileLinkStatus(f);
    }
    // What the stock code returns once readlink prints nothing,
    // FileNotFoundException for a missing path included.
    return getFileStatus(f);
  }
}

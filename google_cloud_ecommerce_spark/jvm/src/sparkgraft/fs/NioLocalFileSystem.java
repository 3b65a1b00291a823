package sparkgraft.fs;

import org.apache.hadoop.fs.LocalFileSystem;

/** {@code fs.file.impl}: the checksummed LocalFileSystem over {@link NioRawLocalFileSystem}. */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new NioRawLocalFileSystem());
  }
}

package engine.niofs;

import org.apache.hadoop.fs.LocalFileSystem;

/**
 * The {@code file:} {@link org.apache.hadoop.fs.FileSystem} ({@code fs.file.impl}):
 * the stock checksummed {@link LocalFileSystem}, {@code .crc} sidecars
 * included, over {@link NioRawLocalFileSystem}.
 */
public class NioLocalFileSystem extends LocalFileSystem {

  public NioLocalFileSystem() {
    super(new NioRawLocalFileSystem());
  }
}

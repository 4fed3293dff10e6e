package engine.niofs;

import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.ChecksumFs;
import org.apache.hadoop.fs.DelegateToFileSystem;
import org.apache.hadoop.fs.FSDataInputStream;
import org.apache.hadoop.fs.FsConstants;
import org.apache.hadoop.fs.FsServerDefaults;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.UnresolvedLinkException;
import org.apache.hadoop.fs.local.LocalConfigKeys;

/**
 * The {@code file:} {@link org.apache.hadoop.fs.AbstractFileSystem}
 * ({@code fs.AbstractFileSystem.file.impl}, what {@code FileContext} and so
 * Spark's checkpoint files use): the stock {@code LocalFs} with
 * {@link NioRawLocalFileSystem} underneath.
 *
 * <p>One deliberate difference from stock: {@link #open(Path)} verifies the
 * {@code .crc} sidecar, as {@code open(path, bufferSize)} does. Stock
 * {@code LocalFs} inherits {@code FilterFs.open(Path)}, which reads the raw
 * file unchecked, and that is the call Spark's
 * {@code FileContextBasedCheckpointFileManager} makes for offset logs,
 * commit logs and state-store files.
 */
public class NioLocalFs extends ChecksumFs {

  public NioLocalFs(URI uri, Configuration conf) throws IOException, URISyntaxException {
    super(new Raw(conf));
  }

  @Override
  public FSDataInputStream open(Path f) throws IOException, UnresolvedLinkException {
    return open(f, getServerDefaults(f).getFileBufferSize());
  }

  /** {@code org.apache.hadoop.fs.local.RawLocalFs}, over the java.nio file system. */
  static final class Raw extends DelegateToFileSystem {

    Raw(Configuration conf) throws IOException, URISyntaxException {
      super(FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem(), conf,
          FsConstants.LOCAL_FS_URI.getScheme(), false);
    }

    @Override
    public int getUriDefaultPort() {
      return -1; // no default port for file:///
    }

    @Override
    public FsServerDefaults getServerDefaults(Path f) throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    @Deprecated
    public FsServerDefaults getServerDefaults() throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    public boolean isValidName(String src) {
      return true; // any local path is valid
    }
  }
}

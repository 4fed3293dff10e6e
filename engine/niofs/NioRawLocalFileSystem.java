package engine.niofs;

import java.io.FileNotFoundException;
import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.InvalidPathException;
import java.nio.file.NoSuchFileException;
import java.nio.file.Paths;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.FSLinkResolver;
import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;
import org.apache.hadoop.io.nativeio.NativeIO;

/**
 * {@link RawLocalFileSystem} whose {@code setPermission} and link lookups
 * run through java.nio instead of forking a shell command.
 *
 * <p>Without libhadoop, the stock class runs {@code chmod} after every file
 * create and every mkdir, and {@code readlink} on every
 * {@code getFileLinkStatus} (two per {@code FileContext.rename}). Each fork
 * costs several milliseconds from a large JVM. Everything else is inherited
 * unchanged, and the results match the stock class's: the same modes, the
 * same statuses, the same {@code FileNotFoundException}s.
 */
public class NioRawLocalFileSystem extends RawLocalFileSystem {

  private static final PosixFilePermission[] MODE_BITS =
      PosixFilePermission.values(); // OWNER_READ (0400) ... OTHERS_EXECUTE (01)

  @Override
  public void setPermission(Path p, FsPermission permission) throws IOException {
    short mode = permission.toShort();
    java.nio.file.Path path = pathToFile(p).toPath();
    // java.nio can neither set the setuid, setgid and sticky bits nor keep
    // them, while chmod(1) keeps a directory's setuid/setgid under a
    // four-digit mode: leave those cases, and libhadoop, to the stock path.
    if (NativeIO.isAvailable() || (mode & ~0777) != 0
        || (unixMode(path, p) & 07000) != 0) {
      super.setPermission(p, permission);
      return;
    }
    Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
    for (int i = 0; i < MODE_BITS.length; i++) {
      if ((mode & (0400 >> i)) != 0) {
        perms.add(MODE_BITS[i]);
      }
    }
    try {
      Files.setPosixFilePermissions(path, perms);
    } catch (NoSuchFileException e) {
      throw notFound(p);
    }
  }

  @Override
  public FileStatus getFileLinkStatus(Path f) throws IOException {
    FileStatus fi = linkStatus(f);
    if (fi.isSymlink()) {
      fi.setSymlink(
          FSLinkResolver.qualifySymlinkTarget(getUri(), fi.getPath(), fi.getSymlink()));
    }
    return fi;
  }

  @Override
  public Path getLinkTarget(Path f) throws IOException {
    return linkStatus(f).getSymlink();
  }

  /** The stock deprecated link status, with readlink(1) done by java.nio. */
  private FileStatus linkStatus(Path f) throws IOException {
    String target = readLink(f);
    try {
      FileStatus fs = getFileStatus(f);
      if (target.isEmpty()) {
        return fs;
      }
      return new FileStatus(fs.getLen(), false, fs.getReplication(),
          fs.getBlockSize(), fs.getModificationTime(), fs.getAccessTime(),
          fs.getPermission(), fs.getOwner(), fs.getGroup(), new Path(target), f);
    } catch (FileNotFoundException e) {
      // a dangling link: java.io.File reports that it does not exist
      if (!target.isEmpty()) {
        return new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault(),
            "", "", new Path(target), f);
      }
      throw e;
    }
  }

  /**
   * The link's target, or "" when {@code f} is not a link. Like the stock
   * {@code FileUtil.readLink(new File(f.toString()))}, it looks up the
   * path's string form, so a scheme-qualified path reads as "not a link".
   */
  private static String readLink(Path f) {
    try {
      return Files.readSymbolicLink(Paths.get(f.toString())).toString();
    } catch (IOException | InvalidPathException | UnsupportedOperationException e) {
      return "";
    }
  }

  private static int unixMode(java.nio.file.Path path, Path p) throws IOException {
    try {
      return (Integer) Files.getAttribute(path, "unix:mode");
    } catch (NoSuchFileException e) {
      throw notFound(p);
    }
  }

  private static FileNotFoundException notFound(Path p) {
    return new FileNotFoundException("File " + p + " does not exist");
  }
}

package jsmr.fs;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's checksummed local filesystem, minus the chmod process.
 *
 * Without the native libhadoop, RawLocalFileSystem.setPermission starts
 * a "chmod" process, and Hadoop calls it for every file it creates and
 * every directory it makes, .crc files included. This raw filesystem
 * applies the same bits with Files.setPosixFilePermissions, one chmod(2)
 * call. A mode NIO cannot express (the sticky bit) takes the inherited
 * path, so no bit is dropped. Checksums are unchanged: this is still a
 * LocalFileSystem.
 */
public class ForkFreeLocalFileSystem extends LocalFileSystem {
  public ForkFreeLocalFileSystem() {
    super(new Raw());
  }

  static class Raw extends RawLocalFileSystem {
    // OWNER_READ, OWNER_WRITE, ..., OTHERS_EXECUTE: mode bits 0400 down to 0001.
    private static final PosixFilePermission[] BITS = PosixFilePermission.values();

    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      int mode = permission.toShort();
      if ((mode & ~0777) != 0) {
        super.setPermission(p, permission);
        return;
      }
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      for (int i = 0; i < BITS.length; i++) {
        if ((mode & (0400 >> i)) != 0) {
          perms.add(BITS[i]);
        }
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
    }
  }
}

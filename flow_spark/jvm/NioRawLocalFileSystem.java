package flow_spark.jvm;

import java.io.File;
import java.io.FileNotFoundException;
import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.NoSuchFileException;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's raw local filesystem with its two shell forks made syscalls.
 * Without libhadoop, the parent runs `chmod` for every setPermission (each
 * create and mkdir) and `readlink` for every getFileLinkStatus (each
 * FileContext rename).
 */
public class NioRawLocalFileSystem extends RawLocalFileSystem {
  @Override
  public void setPermission(Path p, FsPermission permission) throws IOException {
    if (permission.getStickyBit()) {
      super.setPermission(p, permission);
      return;
    }
    // PosixFilePermission lists the mode bits 0400 down to 0001 in order
    Set<PosixFilePermission> bits = EnumSet.noneOf(PosixFilePermission.class);
    for (PosixFilePermission bit : PosixFilePermission.values()) {
      if ((permission.toShort() & (0400 >> bit.ordinal())) != 0) {
        bits.add(bit);
      }
    }
    try {
      Files.setPosixFilePermissions(pathToFile(p).toPath(), bits);
    } catch (NoSuchFileException e) {
      throw new FileNotFoundException("File " + p + " does not exist");
    }
  }

  @Override
  public FileStatus getFileLinkStatus(Path f) throws IOException {
    // the parent asks `readlink` about new File(f.toString()); when that is
    // no symlink it returns getFileStatus(f) as it is
    if (!Files.isSymbolicLink(new File(f.toString()).toPath())) {
      return getFileStatus(f);
    }
    return super.getFileLinkStatus(f);
  }
}

package flow_spark.jvm;

import org.apache.hadoop.fs.LocalFileSystem;

/** Hadoop's checksummed local FileSystem over NioRawLocalFileSystem. */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new NioRawLocalFileSystem());
  }
}

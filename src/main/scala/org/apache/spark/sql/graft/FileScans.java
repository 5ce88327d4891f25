package org.apache.spark.sql.graft;

import org.apache.spark.sql.execution.FileSourceScanExec;
import org.apache.spark.sql.execution.ScanFileListing;
import org.apache.spark.sql.sources.Filter;

/**
 * The members of a v1 file scan that {@link ParquetLeaf}'s driver read calls
 * and Scala's {@code protected} hides outside the scan's class hierarchy.
 * They compile to public JVM methods, which Java may call. Each is the call
 * the scan's own job makes, so the driver read lists files, translates
 * filters and reports its file metrics exactly as the job path does.
 */
final class FileScans {
  private FileScans() {}

  /** The bound scan's file listing (sets its {@code numFiles} driver metric). */
  static ScanFileListing selectedPartitions(FileSourceScanExec scan) {
    return scan.dynamicallySelectedPartitions();
  }

  /** The scan's data filters as data-source filters, as its reader gets them. */
  static scala.collection.immutable.Seq<Filter> pushedDownFilters(FileSourceScanExec scan) {
    return scan.pushedDownFilters();
  }

  /** Adds the listing's driver metrics to the scan's SQL metrics. */
  static void sendDriverMetrics(FileSourceScanExec scan) {
    scan.sendDriverMetrics();
  }
}

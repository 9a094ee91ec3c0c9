package xss;

import java.nio.ByteBuffer;
import java.nio.ByteOrder;

import org.apache.spark.sql.api.java.UDF2;

/**
 * Point-in-polygon over a small polygon set packed on the driver
 * (pip.pip_join_expr).  One instance holds one set; Spark calls it
 * once per point with (lon, lat).
 *
 * Per polygon, in ascending zone id: a bbox test, then the even-odd
 * crossing count of a horizontal ray.  An edge (xi, yi) -> (xj, yj)
 * crosses when (yi > lat) != (yj > lat) and
 * lon < (xj - xi) * (lat - yi) / (yj - yi) + xi, evaluated in that
 * order with (xj - xi) and (yj - yi) precomputed on the driver -- the
 * same IEEE operations as the Arrow path's numpy ray cast, so both
 * paths agree on boundary points bit for bit.  Horizontal edges never
 * cross and are dropped on the driver.  Returns the first containing
 * polygon's zone id, or null.
 *
 * Inputs are little-endian float64 blobs (numpy's tobytes()):
 * zones (P), bbox (4P: minx, miny, maxx, maxy), start (P + 1 edge
 * offsets into the edge table) and edges (5 per edge: xi, yi, yj,
 * xj - xi, yj - yi).
 */
public class PointInPolygons implements UDF2<Double, Double, Double> {

  private final double[] zones;
  private final double[] bbox;
  private final int[] start;
  private final double[] edges;

  public PointInPolygons(byte[] zones, byte[] bbox, byte[] start,
                         byte[] edges) {
    this.zones = doubles(zones);
    this.bbox = doubles(bbox);
    double[] s = doubles(start);
    this.start = new int[s.length];
    for (int i = 0; i < s.length; i++) this.start[i] = 5 * (int) s[i];
    this.edges = doubles(edges);
  }

  static double[] doubles(byte[] b) {
    double[] out = new double[b.length / 8];
    ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN).asDoubleBuffer()
        .get(out);
    return out;
  }

  @Override
  public Double call(Double lon, Double lat) {
    double x = lon, y = lat;
    for (int p = 0; p < zones.length; p++) {
      int b = 4 * p;
      if (!(x >= bbox[b] && x <= bbox[b + 2]
            && y >= bbox[b + 1] && y <= bbox[b + 3])) continue;
      boolean inside = false;
      for (int e = start[p]; e < start[p + 1]; e += 5) {
        double yi = edges[e + 1];
        if ((yi > y) != (edges[e + 2] > y)
            && x < edges[e + 3] * (y - yi) / edges[e + 4] + edges[e]) {
          inside = !inside;
        }
      }
      if (inside) return zones[p];
    }
    return null;
  }
}

package xss;

import org.apache.spark.sql.api.java.UDF2;

/**
 * Nearest target of a small target set packed on the driver
 * (proximity.nearest_expr).  Returns the 1-based index of the winner,
 * or null when no distance is a number.
 *
 * Targets arrive sorted by (payload, x, y) and are compared with a
 * strict {@code <}, so equidistant targets resolve to the smaller
 * payload.  Ranking uses a cheap key that is monotone in the metric's
 * distance: the squared chord between unit vectors for GREAT_CIRCLE
 * (four trig calls per point instead of five per target), the squared
 * distance for EUCLIDEAN and |dx| + |dy| for MANHATTAN.  The caller
 * computes the reported distance once, on the winner, with the
 * metric's own formula.
 *
 * x and y are little-endian float64 blobs (numpy's tobytes()),
 * degrees for GREAT_CIRCLE.
 */
public class NearestTarget implements UDF2<Double, Double, Integer> {

  private final boolean greatCircle;
  private final boolean manhattan;
  private final double[] a;
  private final double[] b;
  private final double[] c;

  public NearestTarget(String metric, byte[] x, byte[] y) {
    double[] tx = PointInPolygons.doubles(x);
    double[] ty = PointInPolygons.doubles(y);
    greatCircle = metric.equals("GREAT_CIRCLE");
    manhattan = metric.equals("MANHATTAN");
    if (!greatCircle && !manhattan && !metric.equals("EUCLIDEAN")) {
      throw new IllegalArgumentException("unknown metric " + metric);
    }
    if (greatCircle) {
      a = new double[tx.length];
      b = new double[tx.length];
      c = new double[tx.length];
      for (int i = 0; i < tx.length; i++) {
        double lon = Math.toRadians(tx[i]), lat = Math.toRadians(ty[i]);
        a[i] = Math.cos(lat) * Math.cos(lon);
        b[i] = Math.cos(lat) * Math.sin(lon);
        c[i] = Math.sin(lat);
      }
    } else {
      a = tx;
      b = ty;
      c = null;
    }
  }

  @Override
  public Integer call(Double lon, Double lat) {
    double px = lon, py = lat, pz = 0.0;
    if (greatCircle) {
      double rlon = Math.toRadians(px), rlat = Math.toRadians(py);
      px = Math.cos(rlat) * Math.cos(rlon);
      py = Math.cos(rlat) * Math.sin(rlon);
      pz = Math.sin(rlat);
    }
    int best = -1;
    double bd = Double.POSITIVE_INFINITY;
    for (int i = 0; i < a.length; i++) {
      double dx = a[i] - px, dy = b[i] - py, d;
      if (greatCircle) {
        double dz = c[i] - pz;
        d = dx * dx + dy * dy + dz * dz;
      } else if (manhattan) {
        d = Math.abs(dx) + Math.abs(dy);
      } else {
        d = dx * dx + dy * dy;
      }
      if (d < bd || (best < 0 && d == d)) {
        best = i;
        bd = d;
      }
    }
    return best < 0 ? null : best + 1;
  }
}

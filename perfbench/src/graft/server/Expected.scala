package graft.server

/** The server's own GeoJSON writer is `private[server]`; the benchmark
  * renders the geometry it expects from `/api/geometry` with it. */
object Expected {
  def geoJson(g: org.locationtech.jts.geom.Geometry): String = TopoServer.geoJson(g)
}
